"""Path-backed table store with transactional-enough commits, a
per-commit metadata log, and commit-id time travel.

The reference targets Delta tables and drives every upsert through
``MERGE INTO`` (writers/writer.py:177-692), reads commit metadata via
``DESCRIBE HISTORY`` operationMetrics
(di_landing_to_raw_generic_v2.py:813-891) and reconstructs past states
via ``TIMESTAMP AS OF`` (di_landing_to_raw_generic_v2.py:774-794). On a
lakehouse deployment our SCD/merge operators (operators/scd.py) would
commit the same plans through Delta/Iceberg ``MERGE``; in this
environment (no delta-spark on the classpath) the store provides the
same contract natively:

- **Atomic-ish commits**: new state is written to a staging directory
  and swapped in with directory renames; on a failed swap the previous
  state is restored, so a failed job never leaves a half-written table.
- **Commit log** (``DESCRIBE HISTORY`` parity): every commit appends a
  JSON record under ``{path}/_commits/`` — seq, timestamp, operation,
  caller metrics (e.g. merge_stats rows in/out), rows written, and the
  list of data files constituting the table after the commit. Spark
  ignores underscore-prefixed directories, so the log is invisible to
  ``spark.read.parquet(path)``.
- **Time travel** (``VERSION AS OF`` parity): ``overwrite`` retains the
  replaced state under ``{path}/_history/pre{seq}/`` (the Delta model:
  old files are removed from the snapshot, not deleted) and
  ``overwrite_partitions`` retains only the replaced partition
  directories; ``as_of(seq)`` re-reads the exact file snapshot of any
  logged commit until ``vacuum()``.

Scale note: the *data* written per commit is proportional to the commit
(append = batch, overwrite_partitions = touched partitions only); the
commit-log bookkeeping is control-plane sized (file listings + parquet
footers of files written this commit).

Delta-runtime parity block (the reference's tables are Delta, so its
queries get these from the runtime under its feet — e.g. the OPTIMIZE
calls at writers/writer.py:280,417-419 rely on log-driven file state):
per-file stats in the commit record (data skipping / metadata-only
COUNT-MIN-MAX), periodic log checkpoints, identity columns with
stats-advanced high-water marks, and ``strict_files``
log-as-source-of-truth scans.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LOG_DIR = "_commits"
HIST_DIR = "_history"
PROPS_FILE = "_table.json"
DV_PTR = "_dv_ptr"
#: table-lifecycle sidecars the overwrite swap carries into the NEW
#: root (everything else in the old root is snapshot state and retires
#: to _history): the commit log, retained history, properties, and the
#: exported Delta log (sinks/delta_export.py — it describes the table
#: across commits, not one snapshot)
_AUX = (LOG_DIR, HIST_DIR, PROPS_FILE, "_delta_log")


class CheckConstraintViolation(ValueError):
    """A write contained rows where a CHECK constraint evaluated to
    FALSE (NULL satisfies, per the SQL standard and Delta)."""


class ConcurrentCommitError(RuntimeError):
    """Another writer took this commit seq — put-if-absent arbitration
    (``_record_commit``) refused to overwrite its record."""


def _is_hidden(rel: str) -> bool:
    return any(seg.startswith(("_", ".")) for seg in rel.split(os.sep))


def _fmt_partition_value(v) -> str:
    """Format one partition value the way Spark names partition
    directories (``col=value``). Covers the scalar types this engine
    partitions by (ints for key-hash buckets, dates, plain strings)."""
    if v is None:
        return "__HIVE_DEFAULT_PARTITION__"
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


class ParquetTable:
    """A parquet-directory table with create/append/overwrite/read, a
    commit log and commit-id time travel.

    Mirrors the reference's create-if-absent + write dispatch
    (writers/batch_writers.py:8-56, writers/writer.py:122-155) without a
    metastore dependency: the table is addressed by filesystem path.
    """

    def __init__(self, spark: SparkSession, path: str, partition_by: list[str] | None = None):
        self.spark = spark
        self.path = path
        # the persisted spec (partition evolution) outranks the
        # constructor arg — a handle opened with yesterday's layout
        # must not write yesterday's directories
        prop = self.properties().get("partition_spec")
        self.partition_by = (
            list(prop) if prop is not None else list(partition_by or [])
        )

    # -- type widening ---------------------------------------------------------

    #: Delta 3.x type-widening lattice (the subset Spark 4's parquet
    #: readers up-cast natively — SPARK-40876): integer upcasts and
    #: float→double. Everything else is schema enforcement territory.
    _WIDENINGS = {
        ("tinyint", "smallint"),
        ("tinyint", "int"),
        ("tinyint", "bigint"),
        ("smallint", "int"),
        ("smallint", "bigint"),
        ("int", "bigint"),
        ("float", "double"),
    }

    def _check_type_widening(self, cur, batch, merge_schema: bool):
        """Validate the batch's types against the stored schema.

        Returns the NEW widened-schema ``jsonValue`` to persist when
        the batch widens a column (or when an existing widened schema
        must grow to cover added columns); ``None`` when nothing
        changes. Raises on narrowing/incompatible types — without this
        check a long batch appended into an int table writes mixed
        physical types that fail every subsequent plain read."""
        cur_t = {f.name: f for f in cur.fields}
        changed, upcasts = [], {}
        for f in batch.fields:
            old = cur_t.get(f.name)
            if old is None or old.dataType == f.dataType:
                continue
            if f.name in self.partition_by:
                # partition columns are stored as DIRECTORY NAMES and
                # read back through Spark's partition type inference
                # (bigint writes as p=0, infers back int) — there is no
                # physical column to mismatch, so type checks here are
                # spurious
                continue
            pair = (old.dataType.simpleString(), f.dataType.simpleString())
            if pair in self._WIDENINGS:
                changed.append(f)
            elif (pair[1], pair[0]) in self._WIDENINGS:
                # batch is NARROWER: Delta coerces the input to the
                # table schema silently — up-cast the batch column
                # before writing (a narrow file in a wide table would
                # poison plain footer-schema reads the same way)
                upcasts[f.name] = old.dataType
            else:
                raise ValueError(
                    f"append: column {f.name!r} type "
                    f"{f.dataType.simpleString()} does not match stored "
                    f"{old.dataType.simpleString()} and is not a "
                    "supported widening (integer upcasts, float→double)"
                )
        prop = self.properties().get("widened_schema")
        added = [f for f in batch.fields if f.name not in cur_t]
        if not changed and (prop is None or not added):
            return None, upcasts
        if changed and not merge_schema:
            raise ValueError(
                "append: batch widens column types "
                f"({[f.name for f in changed]}) — pass merge_schema=True "
                "(Delta type widening)"
            )
        if changed and (self.partition_by or self._colmap() or self._generated()):
            raise ValueError(
                "type widening is not supported on partitioned, "
                "column-mapped, or generated-column tables — rewrite "
                "with overwrite() instead"
            )
        from pyspark.sql import types as T

        by_name = dict(cur_t)
        for f in changed:
            by_name[f.name] = f
        fields = [by_name[f.name] for f in cur.fields] + added
        return T.StructType(fields).jsonValue(), upcasts

    def _apply_read_schema(self, r):
        """Pin the reader to the widened logical schema (when one
        exists): old narrow files up-cast in the parquet reader, so a
        widened table reads uniformly wide — a plain footer-schema read
        would fail with PARQUET_COLUMN_DATA_TYPE_MISMATCH."""
        ws = self.properties().get("widened_schema")
        if ws and not self.partition_by:
            from pyspark.sql import types as T

            r = r.schema(T.StructType.fromJson(ws))
        return r

    # -- partition evolution ---------------------------------------------------
    #
    # Iceberg-style: changing the partition spec is METADATA-ONLY. Old
    # files keep their directory layout, new writes use the new one,
    # and scans read both. A file's spec is self-describing — the
    # ``col=`` components of its own relative path — so no per-file
    # log bookkeeping is needed: group live files by path-derived spec,
    # read each era with ``basePath`` (recovering that era's partition
    # columns from its directories), and union by name. Columns a file
    # stores in-body in one era ride the directory name in another;
    # either way every era yields the full column set.

    @staticmethod
    def _file_spec(rel: str) -> tuple[str, ...]:
        """Partition spec that wrote a file, parsed from its OWN
        relative path (ordered ``col=`` directory components)."""
        return tuple(
            comp.split("=", 1)[0]
            for comp in rel.split(os.sep)[:-1]
            if "=" in comp
        )

    def _live_specs(self) -> set[tuple[str, ...]]:
        return {self._file_spec(f) for f in self._live_files()}

    def _is_mixed_spec(self) -> bool:
        """True when live files span more than one layout, or a single
        layout that is not the current write spec."""
        specs = self._live_specs()
        return bool(specs) and specs != {
            tuple(self._physical_partition_cols())
        }

    def evolve_partition_spec(self, new_cols: list[str]) -> None:
        """Change the table's partition spec without rewriting a byte —
        Iceberg ``ALTER TABLE ... [ADD|REPLACE] PARTITION FIELD``
        (Delta cannot do this; the reference's Delta tables would need
        a full rewrite). Subsequent writes lay out under the new spec;
        existing files stay where they are and scans union the eras.
        Partition-scoped statements (``overwrite_partitions``, the COW
        DELETE/UPDATE family) refuse mixed-era tables — run
        ``rewrite_to_current_spec()`` to converge the layout first."""
        if not self.exists():
            raise ValueError("evolve_partition_spec: table does not exist")
        if self.properties().get("widened_schema"):
            # _apply_read_schema only pins the widened schema for
            # UNPARTITIONED tables; evolving to any spec would unpin it
            # and plain reads would then fail on mixed narrow/wide
            # footers — and rewrite_to_current_spec() itself calls
            # read(), so the recovery path would be broken too.
            raise ValueError(
                "evolve_partition_spec: table has a widened schema "
                "(type widening) — rewrite with overwrite() first to "
                "converge the file schemas, then evolve the spec"
            )
        new_cols = list(new_cols)
        sources = [self._transform_info(e)[1] for e in new_cols]
        cols = set(self.read().columns)
        missing = [c for c in sources if c not in cols]
        if missing:
            raise ValueError(
                f"evolve_partition_spec: columns {missing} not in table"
            )
        gen = sorted(set(sources) & set(self._generated()))
        if gen:
            raise ValueError(
                f"evolve_partition_spec: {gen} are GENERATED (computed "
                "on read, never stored) — partition on stored columns"
            )
        old = list(self.partition_by)
        if new_cols == old:
            return
        self.set_properties({"partition_spec": new_cols})
        self.partition_by = new_cols
        self._record_commit(
            "set_partition_spec",
            {"spec_from": old, "spec_to": new_cols},
            new_files=[],
        )

    def rewrite_to_current_spec(self) -> None:
        """Converge a mixed-era table onto the current partition spec —
        one full rewrite (the cost partition evolution deferred), after
        which partition-scoped statements work again."""
        if not self._is_mixed_spec():
            return
        self.overwrite(self.read(), op="rewrite_partition_spec")

    def _era_pairs(
        self, root: str, paths: list[str]
    ) -> list[tuple[tuple[str, ...], list[str]]]:
        """Group absolute file paths under ``root`` by their
        path-derived partition spec, deterministically ordered."""
        groups: dict[tuple[str, ...], list[str]] = {}
        for p in paths:
            rel = os.path.relpath(p, root)
            groups.setdefault(self._file_spec(rel), []).append(p)
        return [(spec, sorted(groups[spec])) for spec in sorted(groups)]

    def _union_era_frames(
        self, pairs: list[tuple[tuple[str, ...], "DataFrame"]]
    ) -> DataFrame:
        """Union per-era frames with canonical types. A directory-
        recovered partition column's type is INFERRED from the path
        string, so the authoritative type for each column comes from
        an era that stores it in-body (falling back to the first frame
        when every era partitions on it); every frame casts to that
        before the union. Missing columns (schema-evolved eras) fill
        with typed NULLs."""
        if len(pairs) == 1:
            return pairs[0][1]
        types: dict[str, object] = {}
        for spec, df in pairs:
            for fld in df.schema.fields:
                if fld.name not in types and fld.name not in spec:
                    types[fld.name] = fld.dataType
        for _spec, df in pairs:
            for fld in df.schema.fields:
                types.setdefault(fld.name, fld.dataType)
        order = [f.name for f in pairs[0][1].schema.fields]
        order += [c for c in sorted(types) if c not in order]
        frames = [
            df.select(
                *[
                    (F.col(c) if c in df.columns else F.lit(None))
                    .cast(types[c])
                    .alias(c)
                    for c in order
                ]
            )
            for _spec, df in pairs
        ]
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out

    def _read_mixed_eras(self, reader, rels: list[str]) -> DataFrame:
        """Scan the given live files across partition-spec eras."""
        paths = [os.path.join(self.path, f) for f in rels]
        pairs = []
        for spec, group in self._era_pairs(self.path, paths):
            r = reader()
            if spec:
                r = r.option("basePath", self.path)
            pairs.append((spec, r.parquet(*group)))
        return self._union_era_frames(pairs)

    def _scan_files(self, rels: list[str]) -> DataFrame:
        """PHYSICAL scan of the named live files, partition-era aware —
        the one helper every file-list read path (range_scan,
        read_since, point_lookup) shares so data skipping keeps working
        across partition evolution."""

        def reader():
            r = self.spark.read
            if self.properties().get("schema_evolved"):
                r = r.option("mergeSchema", "true")
            return self._apply_read_schema(r)

        specs = {self._file_spec(f) for f in rels}
        if len(specs) > 1:
            return self._read_mixed_eras(reader, rels)
        r = reader()
        if specs and next(iter(specs)):
            r = r.option("basePath", self.path)
        return r.parquet(*[os.path.join(self.path, f) for f in rels])

    # -- reads ---------------------------------------------------------------
    def exists(self) -> bool:
        if not os.path.isdir(self.path):
            return False
        return bool(self._data_files())

    def read(self) -> DataFrame:
        """Live table scan. Default: directory scan (Spark's native
        path listing). With the ``strict_files`` table property set,
        the scan reads EXACTLY the latest commit's file list — Delta's
        log-as-source-of-truth contract: no listing round-trips against
        object storage at plan time beyond the log read, and files a
        crashed or in-flight writer left behind are invisible until
        their commit record lands (read isolation the directory scan
        cannot give)."""
        def reader():
            r = self.spark.read
            if self.properties().get("schema_evolved"):
                # only tables that took a merge-schema append pay the
                # multi-footer schema union; everyone else reads one
                # footer
                r = r.option("mergeSchema", "true")
            return self._apply_read_schema(r)

        if self.properties().get("strict_files"):
            last = self._latest_record()
            files = (last or {}).get("files") or []
            if not files:
                return self._from_physical(
                    reader().parquet(self.path).where(F.lit(False))
                )
            if len({self._file_spec(f) for f in files}) > 1:
                df = self._read_mixed_eras(reader, files)
            else:
                r = reader()
                if self._file_spec(files[0]):
                    r = r.option("basePath", self.path)
                df = r.parquet(
                    *[os.path.join(self.path, f) for f in files]
                )
        else:
            files = self._data_files()
            if len({self._file_spec(f) for f in files}) > 1:
                # partition evolution: live files span layouts a single
                # directory scan cannot partition-infer — per-era scan
                df = self._read_mixed_eras(reader, files)
            else:
                df = reader().parquet(self.path)
        if os.path.isdir(self._dv_dir()):
            df = self._subtract_dv(df, [self._dv_dir()])
        return self._from_physical(df)

    # -- column mapping (metadata-only RENAME/DROP COLUMN) -------------------
    def _colmap(self) -> dict:
        """Logical → physical column names (Delta column-mapping
        parity). Physical names are what the parquet files carry and
        NEVER change; renames and drops are property edits."""
        return dict(self.properties().get("column_mapping") or {})

    def _dropped_columns(self) -> list[str]:
        return list(self.properties().get("dropped_columns") or [])

    def _added_columns(self) -> dict:
        """name → {type, default} of metadata-added columns (see
        :meth:`add_column`)."""
        return dict(self.properties().get("added_columns") or {})

    def _generated(self) -> dict:
        """name → SQL expression of the table's generated columns."""
        return dict(self.properties().get("generated_columns") or {})

    # -- hidden partitioning (Iceberg partition transforms) -------------------
    #
    # A partition spec entry is either a plain column name (identity —
    # the Hive model: the column is stored as its directory value) or a
    # TRANSFORM over a source column: ``days(ts)``, ``hours(ts)``,
    # ``months(ts)``, ``bucket(16, key)``. Transform entries derive a
    # HIDDEN physical column at write time (``pt__*`` — NOT underscore-prefixed: Spark's path filter and the commit log's own walker ignore `_`-prefixed directories) that exists
    # only as directory names; the raw source column stays in-file, so
    # queries never mention the partition value — Iceberg's hidden
    # partitioning, the thing Hive layouts force users to predicate on
    # manually. On read the hidden columns are dropped right after the
    # scan (``_from_physical``); footer/log stats on the raw column
    # keep data skipping working.

    _TRANSFORM_RE = re.compile(
        r"^(days|hours|months|bucket)\((?:(\d+)\s*,\s*)?(\w+)\)$"
    )

    @classmethod
    def _transform_info(cls, entry: str):
        """``(physical_col, source_col, expr_or_None)`` for one spec
        entry; identity entries return ``(entry, entry, None)``."""
        m = cls._TRANSFORM_RE.match(entry.strip())
        if not m:
            return entry, entry, None
        kind, arg, col = m.groups()
        if kind == "bucket":
            if not arg:
                raise ValueError(f"bucket transform needs a count: {entry!r}")
            hidden = f"pt__bucket_{arg}_{col}"
            expr = F.pmod(F.xxhash64(F.col(col)), int(arg)).cast("int")
        else:
            if arg:
                raise ValueError(f"{kind} transform takes one column: {entry!r}")
            fmt = {"days": "yyyy-MM-dd", "hours": "yyyy-MM-dd-HH", "months": "yyyy-MM"}[kind]
            hidden = f"pt__{kind}_{col}"
            expr = F.date_format(F.col(col), fmt)
        return hidden, col, expr

    def _physical_partition_cols(self) -> list[str]:
        return [self._transform_info(e)[0] for e in self.partition_by]

    def _partition_sources(self) -> list[str]:
        return [self._transform_info(e)[1] for e in self.partition_by]

    def _identity_partition_cols(self) -> list[str]:
        return [
            e for e in self.partition_by if self._transform_info(e)[2] is None
        ]

    def _with_hidden_partitions(self, df: DataFrame) -> DataFrame:
        for e in self.partition_by:
            hidden, _src, expr = self._transform_info(e)
            if expr is not None:
                df = df.withColumn(hidden, expr)
        return df

    def _from_physical(self, df: DataFrame) -> DataFrame:
        """Physical → logical projection applied right after a data
        scan: dropped physical columns vanish, mapped ones take their
        logical names, generated columns compute; helper columns
        (``__*``) pass through."""
        hidden = [c for c in df.columns if c.startswith("pt__")]
        if hidden:
            df = df.drop(*hidden)  # transform partition values are
            # directory metadata, not data — derivable from the source
        m = self._colmap()
        drops = set(self._dropped_columns())
        gen = self._generated()
        added = self._added_columns()
        if not m and not drops and not gen and not added:
            return df
        inv = {p: l for l, p in m.items()}
        out = df.select(
            *[
                F.col(c).alias(inv.get(c, c))
                for c in df.columns
                if c not in drops
            ]
        )
        for name, expr in gen.items():
            if name not in out.columns:
                out = out.withColumn(name, F.expr(expr))
        for name, meta in added.items():
            # metadata-added column not yet present in any scanned
            # footer: pre-existing rows read NULL (Delta semantics —
            # the DEFAULT applies to future writes, not history)
            if name not in out.columns:
                out = out.withColumn(name, F.lit(None).cast(meta["type"]))
        return out

    def _to_physical(self, df: DataFrame) -> DataFrame:
        """Logical → physical projection applied right before a data
        write: files carry the immortal physical names, and generated
        columns are NOT stored (they recompute on read — a frame
        derived from ``read()`` carries them, so a rewrite would
        otherwise materialize them and the read-side projection would
        then collide)."""
        m = self._colmap()
        gen = set(self._generated())
        if not m and not gen:
            return df
        return df.select(
            *[
                F.col(c).alias(m.get(c, c))
                for c in df.columns
                if c not in gen
            ]
        )

    def add_generated_column(self, name: str, expr_sql: str) -> None:
        """``ALTER TABLE ... ADD COLUMN ... GENERATED ALWAYS AS (expr)``
        parity, in VIRTUAL form: the expression is stored as table
        metadata and computes on every read — zero bytes stored, zero
        files rewritten, always consistent with its inputs (where
        Delta materializes generated values at write time; the
        observable difference is storage, not values). Writes never
        store the column (frames derived from ``read()`` carry it —
        the write-side projection drops it); an APPENDED batch naming
        a generated column is refused rather than silently ignored
        (internal read-derived rewrites drop it — value-identical by
        construction). CHECK constraints and statement predicates may
        reference it (they evaluate on the logical frame)."""
        if self.exists() and name in self.read().columns:
            raise ValueError(
                f"add_generated_column: column {name!r} already exists"
            )
        # validate the expression against the current schema, loudly
        if self.exists():
            self.read().select(F.expr(expr_sql).alias(name)).limit(0).count()
        gen = self._generated()
        gen[name] = expr_sql
        self.set_properties({"generated_columns": gen})
        self._record_commit(
            "add_generated_column", {"name": name, "expr": expr_sql},
            new_files=[],
        )

    def drop_generated_column(self, name: str) -> None:
        gen = self._generated()
        if name not in gen:
            raise ValueError(f"drop_generated_column: no generated column {name!r}")
        del gen[name]
        self.set_properties({"generated_columns": gen})
        self._record_commit(
            "drop_generated_column", {"name": name}, new_files=[]
        )

    def rename_column(self, old: str, new: str) -> None:
        """``ALTER TABLE ... RENAME COLUMN`` — METADATA-ONLY (Delta
        column mapping): zero data files rewritten; the logical name
        maps to the column's immortal physical name. Time travel
        reflects the CURRENT names (the mapping is table-level state),
        exactly like reading an old Delta version through the current
        metadata mapping. Partition/bucket columns and columns
        referenced by CHECK constraints are refused (their stored
        expressions/directory names are physical)."""
        import re as _re

        cols = self.read().columns
        if old not in cols:
            raise ValueError(f"rename_column: no column {old!r}")
        if new in cols:
            raise ValueError(f"rename_column: {new!r} already exists")
        if old in self._partition_sources():
            raise ValueError(
                "rename_column: partition columns are physical directory "
                "names — rewrite the table to rename them"
            )
        for cname, expr in (self.properties().get("constraints") or {}).items():
            if _re.search(rf"\b{_re.escape(old)}\b", expr):
                raise ValueError(
                    f"rename_column: column {old!r} is referenced by CHECK "
                    f"constraint {cname!r} — drop the constraint first"
                )
        for mcol, mexpr in (self.properties().get("column_masks") or {}).items():
            if mcol == old or _re.search(rf"\b{_re.escape(old)}\b", mexpr):
                raise ValueError(
                    f"rename_column: column {old!r} is referenced by the "
                    f"mask on {mcol!r} — drop the mask first (its SQL text "
                    "cannot be rewritten safely)"
                )
        rf_expr = self.properties().get("row_filter")
        if rf_expr and _re.search(rf"\b{_re.escape(old)}\b", rf_expr):
            raise ValueError(
                f"rename_column: column {old!r} is referenced by the row "
                "filter — drop the filter first"
            )
        m = self._colmap()
        phys = m.pop(old, old)
        m[new] = phys
        props: dict = {"column_mapping": m}
        added = self._added_columns()
        if old in added:
            # metadata-added columns are keyed by LOGICAL name (the
            # read projection and default stamping consult them) —
            # rekey or the old name resurrects as a NULL ghost column
            added[new] = added.pop(old)
            props["added_columns"] = added
        defaults = dict(self.properties().get("column_defaults") or {})
        if old in defaults:
            defaults[new] = defaults.pop(old)
            props["column_defaults"] = defaults
        if old in self.identity_spec():
            # the identity spec is keyed by LOGICAL name and consulted
            # at every write — a stale key would both double-inject the
            # old column and bypass the ALWAYS guard; remap it in the
            # same property write (after every guard has passed)
            spec = self.identity_spec()
            spec[new] = spec.pop(old)
            props["identity"] = spec
        self.set_properties(props)
        self._record_commit(
            "rename_column", {"from": old, "to": new}, new_files=[]
        )

    def drop_column(self, name: str) -> None:
        """``ALTER TABLE ... DROP COLUMN`` — metadata-only: the
        physical column stays in the old files (reads hide it; the
        bytes remain until a rewrite, same erasure caveat as Delta).
        Appends after the drop write files WITHOUT the column, so the
        table is flagged ``schema_evolved`` (mixed footers)."""
        import re as _re

        if name in self.identity_spec():
            raise ValueError(
                f"drop_column: {name!r} is an IDENTITY column — every "
                "write would re-inject it; drop the identity spec first"
            )
        if name not in self.read().columns:
            raise ValueError(f"drop_column: no column {name!r}")
        if name in self._partition_sources():
            raise ValueError("drop_column: cannot drop a partition column")
        for cname, expr in (self.properties().get("constraints") or {}).items():
            if _re.search(rf"\b{_re.escape(name)}\b", expr):
                raise ValueError(
                    f"drop_column: column {name!r} is referenced by CHECK "
                    f"constraint {cname!r} — drop the constraint first"
                )
        for mcol, mexpr in (self.properties().get("column_masks") or {}).items():
            if mcol == name or _re.search(rf"\b{_re.escape(name)}\b", mexpr):
                raise ValueError(
                    f"drop_column: column {name!r} is referenced by the "
                    f"mask on {mcol!r} — drop the mask first"
                )
        rf_expr = self.properties().get("row_filter")
        if rf_expr and _re.search(rf"\b{_re.escape(name)}\b", rf_expr):
            raise ValueError(
                f"drop_column: column {name!r} is referenced by the row "
                "filter — drop the filter first"
            )
        m = self._colmap()
        phys = m.pop(name, name)
        dropped = self._dropped_columns()
        dropped.append(phys)
        props = {
            "column_mapping": m,
            "dropped_columns": dropped,
            "schema_evolved": True,
        }
        added = self._added_columns()
        if name in added:
            # a dropped metadata-added column must leave the added set
            # too, or the read projection re-adds it as a NULL ghost
            added.pop(name)
            props["added_columns"] = added or None
        defaults = dict(self.properties().get("column_defaults") or {})
        if name in defaults:
            defaults.pop(name)
            props["column_defaults"] = defaults or None
        self.set_properties(props)
        self._record_commit("drop_column", {"column": name}, new_files=[])

    def add_column(self, name: str, dtype: str, default=None) -> None:
        """``ALTER TABLE ... ADD COLUMN name type [DEFAULT literal]`` —
        METADATA-ONLY (Delta ``allowColumnDefaults`` semantics): zero
        files rewritten; pre-existing rows read the new column as NULL,
        and subsequent appends that OMIT the column get the default
        stamped at write time (an append that supplies the column wins).
        The table is flagged ``schema_evolved``: post-add appends write
        files WITH the column while old files lack it (mixed footers,
        same shape as ``drop_column``). ``overwrite()`` materializes and
        clears the metadata entry."""
        if not self.exists():
            raise ValueError("add_column: table does not exist")
        if name in self.read().columns:
            raise ValueError(f"add_column: column {name!r} already exists")
        if name in self._dropped_columns() or name in set(
            self._colmap().values()
        ):
            raise ValueError(
                f"add_column: {name!r} collides with a dropped or mapped "
                "PHYSICAL column still present in old files — rewrite "
                "first (overwrite()) or pick another name"
            )
        # validate the type (and the default's castability) loudly now,
        # not at first append
        probe = self.spark.createDataFrame([], f"`{name}` {dtype}")
        if default is not None:
            probe.select(F.lit(default).cast(probe.schema[name].dataType))
        added = self._added_columns()
        added[name] = {"type": dtype, "default": default}
        self.set_properties({"added_columns": added, "schema_evolved": True})
        self._record_commit(
            "add_column",
            {"column": name, "type": dtype, "default": default},
            new_files=[],
        )

    def set_column_default(self, name: str, default) -> None:
        """``ALTER TABLE ... ALTER COLUMN name SET DEFAULT literal`` on
        a STORED column (Delta allowColumnDefaults): subsequent appends
        that omit the column get the default stamped at write time (a
        batch that supplies it wins); existing rows are untouched.
        Metadata-only, file-neutral commit."""
        if not self.exists():
            raise ValueError("set_column_default: table does not exist")
        if name not in self.read().columns:
            raise ValueError(f"set_column_default: no column {name!r}")
        if name in self._generated():
            raise ValueError(
                f"set_column_default: {name!r} is GENERATED (computed on "
                "read, never stored)"
            )
        if name in self.identity_spec():
            raise ValueError(
                f"set_column_default: {name!r} is an IDENTITY column — it "
                "fills itself"
            )
        if name in self._partition_sources():
            raise ValueError(
                "set_column_default: partition columns place files — a "
                "defaulted partition value would silently skew the layout"
            )
        dtype = self.read().schema[name].dataType
        # validate castability loudly now, not at first append
        self.spark.range(1).select(F.lit(default).cast(dtype))
        defaults = dict(self.properties().get("column_defaults") or {})
        defaults[name] = default
        self.set_properties({"column_defaults": defaults})
        self._record_commit(
            "set_column_default", {"column": name, "default": default}, new_files=[]
        )

    def drop_column_default(self, name: str) -> None:
        """``ALTER TABLE ... ALTER COLUMN name DROP DEFAULT``."""
        defaults = dict(self.properties().get("column_defaults") or {})
        if name not in defaults:
            raise ValueError(f"drop_column_default: no default on {name!r}")
        defaults.pop(name)
        self.set_properties({"column_defaults": defaults or None})
        self._record_commit(
            "drop_column_default", {"column": name}, new_files=[]
        )

    # -- governance (read-time policies) --------------------------------------
    #
    # Unity-Catalog-style column masks and row filters, applied by
    # governed_read() ONLY: read() (and every internal read-modify-
    # write path) stays raw, so a COW rewrite can never persist masked
    # values over real data — the catastrophic failure mode of
    # policy-inside-the-scan designs. Governance here is a SERVING
    # boundary: hand analysts governed_read() (or a view over it), keep
    # pipeline code on read(). The difs DataSource likewise scans raw.

    def set_column_mask(self, name: str, expr_sql: str) -> None:
        """Attach a mask expression to a column — ``governed_read()``
        replaces the column with ``expr_sql`` (Spark SQL; may reference
        the column itself and any OTHER pre-mask column, like UC mask
        UDFs receive the raw value). Metadata-only."""
        if not self.exists():
            raise ValueError("set_column_mask: table does not exist")
        cols = self.read().columns
        if name not in cols:
            raise ValueError(f"set_column_mask: no column {name!r}")
        F.expr(expr_sql)  # parse loudly now
        masks = dict(self.properties().get("column_masks") or {})
        masks[name] = expr_sql
        self.set_properties({"column_masks": masks})
        self._record_commit(
            "set_column_mask", {"column": name, "mask": expr_sql}, new_files=[]
        )

    def drop_column_mask(self, name: str) -> None:
        masks = dict(self.properties().get("column_masks") or {})
        if name not in masks:
            raise ValueError(f"drop_column_mask: no mask on {name!r}")
        masks.pop(name)
        self.set_properties({"column_masks": masks or None})
        self._record_commit("drop_column_mask", {"column": name}, new_files=[])

    def set_row_filter(self, expr_sql: str) -> None:
        """Attach a row filter — ``governed_read()`` keeps only rows
        where it holds (evaluated on RAW values, before any mask — the
        UC ordering). Metadata-only."""
        if not self.exists():
            raise ValueError("set_row_filter: table does not exist")
        F.expr(expr_sql)
        self.set_properties({"row_filter": expr_sql})
        self._record_commit("set_row_filter", {"filter": expr_sql}, new_files=[])

    def drop_row_filter(self) -> None:
        if not self.properties().get("row_filter"):
            raise ValueError("drop_row_filter: no row filter set")
        self.set_properties({"row_filter": None})
        self._record_commit("drop_row_filter", {}, new_files=[])

    def governed_read(self) -> DataFrame:
        """The serving-boundary scan: ``read()`` with the table's row
        filter applied first (raw values), then every column mask in
        one projection (masks see PRE-mask values of all columns, so
        mask order can't matter)."""
        df = self.read()
        rf = self.properties().get("row_filter")
        if rf:
            df = df.where(F.coalesce(F.expr(rf), F.lit(False)))
        masks = self.properties().get("column_masks") or {}
        if masks:
            df = df.select(
                *[
                    F.expr(masks[c]).alias(c) if c in masks else F.col(c)
                    for c in df.columns
                ]
            )
        return df

    # -- deletion vectors ----------------------------------------------------
    def _dv_dir(self, root: str | None = None) -> str:
        """Active deletion-vector sidecar dir under ``root`` (default:
        the live table). A ``_dv_ptr`` pointer file, when present,
        names the active generation (``_dv.g{seq}``) — installed by
        ``_retire_dv_for_files``'s crash-safe sidecar rewrite; an
        empty pointer means "no active sidecar" (resolves to a path
        that never exists). Without a pointer the plain ``_dv`` dir is
        active. History snapshot roots resolve the same way, so a
        snapshot taken from a post-rewrite tree keeps working."""
        root = root or self.path
        ptr = os.path.join(root, DV_PTR)
        if os.path.isfile(ptr):
            with open(ptr) as f:
                gen = f.read().strip()
            return os.path.join(root, gen or "_dv.none")
        return os.path.join(root, "_dv")

    def _subtract_dv(
        self, df: DataFrame, dv_dirs: list[str], max_seq: int | None = None
    ) -> DataFrame:
        """Anti-join the deletion-vector sidecars out of a scan frame.
        Vectors key on ``(_metadata.file_name, _metadata.row_index)`` —
        part-file names carry task UUIDs, so the name alone identifies
        the file without path normalization across live/history roots.
        ``max_seq`` caps which deletes apply (time travel)."""
        dv = None
        for d in dv_dirs:
            f = self.spark.read.parquet(d)
            dv = f if dv is None else dv.unionByName(f)
        if max_seq is not None:
            dv = dv.where(F.col("dv_seq") <= max_seq)
        marked = df.select(
            "*",
            F.col("_metadata.file_name").alias("__dv_f"),
            F.col("_metadata.row_index").alias("__dv_p"),
        )
        cond = (F.col("__dv_f") == dv["file_name"]) & (
            F.col("__dv_p") == dv["row_index"]
        )
        return marked.join(dv, cond, "left_anti").drop("__dv_f", "__dv_p")

    def delete_where_dv(self, predicate) -> int:
        """Deletion-vector DELETE — Delta deletion vectors parity: the
        doomed rows' ``(file, position)`` pairs land in a ``_dv``
        parquet sidecar stamped with the commit seq, and NO data file
        is rewritten — an O(matched rows) commit where ``delete_where``
        pays the full staged-swap rewrite: the 100 TB delete path.
        Reads anti-join the sidecar (zero overhead for tables without
        one); deletes stack; ``as_of`` applies only vectors with
        ``dv_seq <= seq`` (a sidecar retired by a later rewrite travels
        with its history snapshot); any full rewrite — ``compact()``,
        ``overwrite``, update/delete/merge — materializes the deletes
        and the fresh tree starts vector-free. A NULL predicate row is
        not deleted. Unpartitioned tables only: a partition-scoped
        commit would strand vectors referencing replaced files.
        Erasure caveat (same as Delta's): the bytes remain in the data
        files until a rewrite + ``vacuum()``."""
        if not self.exists():
            return 0
        if self.partition_by:
            raise ValueError(
                "delete_where_dv requires an unpartitioned table — "
                "partition-scoped commits would strand vectors; use "
                "delete_where (rewrite) instead"
            )
        pred = F.expr(predicate) if isinstance(predicate, str) else predicate
        r = self.spark.read
        if self.properties().get("schema_evolved"):
            # same option every other scan path applies — without it a
            # predicate on an evolved column is UNRESOLVED_COLUMN
            r = r.option("mergeSchema", "true")
        base = r.parquet(self.path).select(
            "*",
            F.col("_metadata.file_name").alias("__dv_f"),
            F.col("_metadata.row_index").alias("__dv_p"),
        )
        dvd = self._dv_dir()
        if os.path.isdir(dvd):
            dv = self.spark.read.parquet(dvd)
            cond = (F.col("__dv_f") == dv["file_name"]) & (
                F.col("__dv_p") == dv["row_index"]
            )
            base = base.join(dv, cond, "left_anti")
        base = self._from_physical(base)  # predicate sees logical names
        doomed = base.where(F.coalesce(pred, F.lit(False))).select(
            F.col("__dv_f").alias("file_name"),
            F.col("__dv_p").alias("row_index"),
        )
        if doomed.limit(1).count() == 0:
            return 0
        seq = self._next_seq()
        if os.path.basename(dvd) == "_dv.none":
            # an empty _dv_ptr (every prior vector retired by a
            # copy-on-write rewrite) — allocate a fresh generation and
            # flip the pointer to it AFTER the write lands, so a crash
            # mid-write leaves no active sidecar and no commit: the
            # delete simply never happened
            dvd = os.path.join(self.path, f"_dv.g{seq:08d}")
            # a crashed earlier attempt may have left an orphaned dir
            # under this very name (its seq was never committed, so
            # _next_seq reuses it and nothing else sweeps it) — start
            # clean rather than silently merging the aborted delete
            shutil.rmtree(dvd, ignore_errors=True)
        before = (
            set(self._data_files(dvd)) if os.path.isdir(dvd) else set()
        )
        doomed.withColumn(
            "dv_seq", F.lit(seq).cast("bigint")
        ).write.mode("append").parquet(dvd)
        if os.path.basename(dvd) != os.path.basename(self._dv_dir()):
            tmp = os.path.join(self.path, f".dvptr-{uuid.uuid4().hex[:8]}")
            with open(tmp, "w") as f:
                f.write(os.path.basename(dvd))
            os.rename(tmp, os.path.join(self.path, DV_PTR))
        new = [f for f in self._data_files(dvd) if f not in before]
        n = self._footer_rows([os.path.join(dvd, f) for f in new])
        self._record_commit("delete_dv", {"rows_deleted": n}, new_files=[])
        return n

    # -- commit log ----------------------------------------------------------
    def _log_dir(self) -> str:
        return os.path.join(self.path, LOG_DIR)

    def _hist_dir(self) -> str:
        return os.path.join(self.path, HIST_DIR)

    def properties(self) -> dict:
        """Durable table properties (e.g. ``num_buckets`` for key-hash
        bucketed targets) — the TBLPROPERTIES analogue. Stored as an
        underscore-prefixed JSON file Spark's path filter ignores."""
        f = os.path.join(self.path, PROPS_FILE)
        if os.path.isfile(f):
            with open(f) as fh:
                return json.load(fh)
        return {}

    def set_properties(self, props: dict) -> None:
        os.makedirs(self.path, exist_ok=True)
        merged = {**self.properties(), **props}
        tmp = os.path.join(self.path, f".tmp-props-{uuid.uuid4().hex[:8]}")
        with open(tmp, "w") as fh:
            json.dump(merged, fh)
        os.rename(tmp, os.path.join(self.path, PROPS_FILE))

    def history(self) -> list[dict]:
        """All commit records, oldest first — ``DESCRIBE HISTORY``
        parity (di_landing_to_raw_generic_v2.py:813-891). Each record:
        ``{seq, ts, op, rows_written, metrics, files, stats}``.
        Checkpoint files (underscore-prefixed) are not commit records."""
        out = []
        for name in self._record_names():
            with open(os.path.join(self._log_dir(), name)) as f:
                out.append(json.load(f))
        return sorted(out, key=lambda r: r["seq"])

    def _record_names(self) -> list[str]:
        """Sorted commit-record filenames ({seq:08d}.json) — the ONE
        filter for what counts as a record (checkpoints and temp files
        are underscore/dot-prefixed)."""
        d = self._log_dir()
        if not os.path.isdir(d):
            return []
        return sorted(
            n
            for n in os.listdir(d)
            if n.endswith(".json")
            and not n.startswith(("_", "."))
            and n[:8].isdigit()
        )

    def _latest_record(self) -> dict | None:
        """The newest commit record alone — one file read, picked by
        FILENAME (records are named by zero-padded seq), never a full
        log replay."""
        names = self._record_names()
        if not names:
            return None
        with open(os.path.join(self._log_dir(), names[-1])) as f:
            return json.load(f)

    def last_commit(self) -> dict | None:
        """Public O(1) accessor for the newest commit record — one file
        parse, selected by filename seq. Long-lived streaming sinks call
        this once per micro-batch, so it MUST NOT replay the log (that
        per-batch rescan is quadratic over the stream's lifetime)."""
        return self._latest_record()

    def commit_record(self, seq: int) -> dict | None:
        """The record at exactly ``seq`` — one file parse by name
        (``{seq:08d}.json``), ``None`` if absent. No log replay."""
        name = f"{seq:08d}.json"
        path = os.path.join(self._log_dir(), name)
        # isfile alone decides: the fixed 8-digit name can never collide
        # with an aux-prefixed file, and re-listing the whole log dir
        # here would put O(table-age) work back into the per-batch path
        # these accessors exist to avoid
        if not os.path.isfile(path):
            return None
        with open(path) as f:
            return json.load(f)

    def history_since(self, seq: int) -> list[dict]:
        """Commit records strictly after ``seq``, oldest first — the
        O(delta) slice of :meth:`history`. Selection is by FILENAME
        (records are named by zero-padded seq), so only the newer
        records' bodies are parsed — incremental readers pay for their
        delta, never the table's age."""
        out = []
        for name in self._record_names():
            if int(name[:8]) > seq:
                with open(os.path.join(self._log_dir(), name)) as f:
                    out.append(json.load(f))
        return sorted(out, key=lambda r: r["seq"])

    def last_commit_with_metric(self, key: str) -> dict | None:
        """Newest commit record whose ``metrics`` carry ``key`` —
        iterated newest-first by filename and stopped at the first hit,
        so when every append stamps the key (the cursor discipline in
        ``ivf_index_refresh`` / ``operators/incremental.py``) this is
        one file parse, not a log replay."""
        for name in reversed(self._record_names()):
            with open(os.path.join(self._log_dir(), name)) as f:
                rec = json.load(f)
            if (rec.get("metrics") or {}).get(key) is not None:
                return rec
        return None

    def _next_seq(self) -> int:
        """Next commit seq from record FILENAMES alone (zero json
        parsing — the record name is its zero-padded seq). Every commit
        path calls this; parsing O(commits) record bodies per commit is
        the quadratic-log trap Delta's checkpointing exists to avoid."""
        names = self._record_names()
        return (int(names[-1][:8]) + 1) if names else 1

    def _live_files(self) -> list[str]:
        """The live data-file set every PLANNING api agrees on: under
        ``strict_files`` it is the latest commit record's list (so
        count_rows/range_scan/column_min_max hide exactly what read()
        hides — a stray uncommitted file must not be counted, scanned,
        or footer-harvested); otherwise the directory walk."""
        if self.properties().get("strict_files"):
            return list((self._latest_record() or {}).get("files") or [])
        return self._data_files()

    # -- log checkpoints -----------------------------------------------------
    #
    # Delta writes a checkpoint every N commits so readers reconstruct
    # table state from checkpoint + tail instead of replaying the whole
    # log. Same here for the per-file STATS fold: `file_stats` reads the
    # newest `_checkpoint.{seq}.json` (the full file→stats mapping as of
    # that commit) plus only the records after it — O(tail), not
    # O(commits). `DESCRIBE HISTORY` still reads every record (that IS
    # the product there); the hot planning paths don't.

    CHECKPOINT_EVERY = 10

    def _latest_checkpoint(self) -> dict | None:
        d = self._log_dir()
        if not os.path.isdir(d):
            return None
        names = sorted(
            n
            for n in os.listdir(d)
            if n.startswith("_checkpoint.") and n.endswith(".json")
        )
        if not names:
            return None
        with open(os.path.join(d, names[-1])) as f:
            return json.load(f)

    def _maybe_checkpoint(self, rec: dict) -> None:
        raw = self.properties().get("checkpoint_interval")
        every = self.CHECKPOINT_EVERY if raw is None else int(raw)
        if every <= 0 or rec["seq"] % every:
            return  # 0 (or negative) disables checkpointing
        ck = {"seq": rec["seq"], "stats": self.file_stats()}
        d = self._log_dir()
        tmp = os.path.join(d, f".tmp-ck-{uuid.uuid4().hex[:8]}")
        with open(tmp, "w") as f:
            json.dump(ck, f)
        name = f"_checkpoint.{rec['seq']:08d}.json"
        os.rename(tmp, os.path.join(d, name))
        # superseded checkpoints are pure caches of older folds — sweep
        # them (each is O(files) JSON; only the newest is ever read)
        for n in os.listdir(d):
            if n.startswith("_checkpoint.") and n.endswith(".json") and n != name:
                try:
                    os.unlink(os.path.join(d, n))
                except OSError:
                    pass

    def _data_files(self, root: str | None = None) -> list[str]:
        """Relative paths of live data files (skips ``_commits``,
        ``_history``, ``_SUCCESS`` and other hidden entries, like
        Spark's own path filter does)."""
        root = root or self.path
        out = []
        for dirpath, dirnames, files in os.walk(root):
            rel_dir = os.path.relpath(dirpath, root)
            if rel_dir != "." and _is_hidden(rel_dir):
                dirnames[:] = []
                continue
            for f in files:
                if f.endswith(".parquet") and not f.startswith(("_", ".")):
                    rel = os.path.normpath(os.path.join(rel_dir, f))
                    out.append(rel)
        return sorted(out)

    @staticmethod
    def _footer_rows(paths: list[str]) -> int:
        import pyarrow.parquet as pq

        return sum(pq.ParquetFile(p).metadata.num_rows for p in paths)

    # -- per-file statistics in the commit log -------------------------------
    #
    # Delta writes per-file min/max/nullCount stats INTO each add-file
    # action so data skipping plans from the log, never from footers.
    # Same model here: the footer read _record_commit already pays for
    # rows_written also harvests column stats, stored in the commit
    # record. At 100 TB the difference is structural — planning a range
    # scan from footers is O(live files) driver round-trips against
    # object storage; planning from the log is one small local read per
    # commit record, proportional to commit COUNT, not file count.

    @staticmethod
    def _enc_stat(v):
        """JSON-encode one footer min/max value, tagged when the type
        doesn't survive JSON natively. None = value not representable
        (caller drops that bound, which is always sound)."""
        import datetime
        import decimal
        import math

        if isinstance(v, bool) or v is None:
            return None  # boolean ranges never prune usefully
        if isinstance(v, int):
            return v
        if isinstance(v, float):
            return None if (math.isnan(v) or math.isinf(v)) else v
        if isinstance(v, str):
            return v if len(v) <= 64 else None
        if isinstance(v, bytes):
            return None
        if isinstance(v, datetime.datetime):
            # normalize to naive UTC: session TZ is UTC, and Spark
            # literals / collected values are naive — mixed-awareness
            # comparisons would raise
            if v.tzinfo is not None:
                v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
            return {"t": "ts", "v": v.isoformat()}
        if isinstance(v, datetime.date):
            return {"t": "date", "v": v.isoformat()}
        if isinstance(v, decimal.Decimal):
            return {"t": "dec", "v": str(v)}
        return None

    @staticmethod
    def _dec_stat(v):
        import datetime
        import decimal

        if isinstance(v, dict):
            if v["t"] == "ts":
                return datetime.datetime.fromisoformat(v["v"])
            if v["t"] == "date":
                return datetime.date.fromisoformat(v["v"])
            if v["t"] == "dec":
                return decimal.Decimal(v["v"])
        return v

    def _harvest_file_stats(self, rels: list[str]) -> dict:
        """Read each file's footer ONCE and return
        ``{rel: {"rows": n, "cols": {phys_name: {"min","max","nulls"}}}}``.
        Column keys are PHYSICAL parquet names (column mapping resolves
        at query time, so a later RENAME COLUMN never invalidates logged
        stats). A bound that can't round-trip JSON (long string, NaN,
        binary) is dropped individually — min without max still prunes
        the ``<= hi`` side. String minima longer than 64 chars are
        truncated (a prefix is still a valid lower bound); maxima are
        never truncated (a prefix would be an INVALID upper bound)."""
        import pyarrow.parquet as pq

        out = {}
        for rel in rels:
            md = pq.ParquetFile(os.path.join(self.path, rel)).metadata
            cols: dict = {}
            for rg in range(md.num_row_groups):
                rgm = md.row_group(rg)
                for ci in range(rgm.num_columns):
                    c = rgm.column(ci)
                    name = c.path_in_schema
                    if "." in name:
                        continue  # nested leaves: no file-level skipping
                    ent = cols.setdefault(
                        name, {"min": None, "max": None, "nulls": 0, "ok": True}
                    )
                    st = c.statistics
                    if st is None or not st.has_min_max:
                        ent["ok"] = False
                        continue
                    try:
                        mn, mx = st.min, st.max
                    except Exception:
                        # pyarrow can't extract stats for every physical
                        # type (e.g. INT96 timestamps from sessions
                        # without the micros output type) — no bounds,
                        # conservatively unprunable
                        ent["ok"] = False
                        continue
                    if ent["min"] is None or mn < ent["min"]:
                        ent["min"] = mn
                    if ent["max"] is None or mx > ent["max"]:
                        ent["max"] = mx
                    if st.null_count is not None:
                        ent["nulls"] += st.null_count
            enc_cols = {}
            for name, ent in cols.items():
                if not ent["ok"]:
                    continue
                mn, mx = ent["min"], ent["max"]
                trunc = isinstance(mn, str) and len(mn) > 64
                if trunc:
                    mn = mn[:64]
                enc_cols[name] = {
                    "min": self._enc_stat(mn),
                    "max": self._enc_stat(mx),
                    "nulls": ent["nulls"],
                }
                if trunc:
                    # a prefix is a valid PRUNING lower bound but not a
                    # real value — answer paths (column_min_max) must
                    # not report it (Delta's tightBounds distinction)
                    enc_cols[name]["minTrunc"] = True
            out[rel] = {"rows": md.num_rows, "cols": enc_cols}
        return out

    def file_stats(self) -> dict:
        """Per-live-file stats resolved from the commit log: each file's
        stats come from the commit that wrote it, folded from the
        newest CHECKPOINT plus only the records after it (O(tail) log
        reads — see ``_maybe_checkpoint``). Files the log doesn't cover
        (pre-feature commits, hand-placed files, restores reaching past
        the checkpoint horizon) fall back to one footer read each —
        after which the next checkpoint makes the log authoritative
        again. Control-plane only; per-file stats are immutable, so a
        checkpoint can never go stale, only lack entries."""
        live = set(self._live_files())
        out: dict = {}
        ck = self._latest_checkpoint()
        ck_seq = 0
        if ck:
            ck_seq = ck["seq"]
            out.update(
                {rel: st for rel, st in ck["stats"].items() if rel in live}
            )
        for name in self._record_names():
            if int(name[:8]) <= ck_seq:
                continue
            with open(os.path.join(self._log_dir(), name)) as f:
                rec = json.load(f)
            for rel, st in (rec.get("stats") or {}).items():
                if rel in live:
                    out[rel] = st
        missing = sorted(live - set(out))
        if missing:
            out.update(self._harvest_file_stats(missing))
        return out

    def _record_commit(
        self,
        op: str,
        metrics: dict | None,
        new_files: list[str] | None = None,
        stats: dict | None = None,
    ) -> dict:
        """Append one commit record. ``rows_written`` comes from parquet
        footers of the files written this commit (control-plane: footer
        reads only, proportional to commit size).

        The record lands via ``os.link`` (fails on an existing name)
        instead of ``os.rename`` (silently replaces) — the same
        put-if-absent arbitration Delta's commit protocol relies on:
        if another writer raced this table and took the seq, the loser
        raises ``ConcurrentCommitError`` instead of overwriting the
        winner's commit record and corrupting history. This store's
        contract is still single-writer (reads scan the directory, so
        a losing writer's data files need operator cleanup) — the
        arbitration turns a silent corruption into a loud error."""
        seq = self._next_seq()
        if new_files is not None and self.properties().get("strict_files"):
            # log-as-source-of-truth: the new snapshot is the previous
            # record's files plus this commit's, minus files the commit
            # moved away (COW/overwrite retire to _history) — a stray
            # uncommitted file can never enter the log. (A real
            # lakehouse log records removals explicitly; the existence
            # filter is this store's rename-based equivalent.)
            prev = set((self._latest_record() or {}).get("files") or [])
            files = sorted(
                f
                for f in prev | set(new_files)
                if os.path.exists(os.path.join(self.path, f))
            )
        else:
            files = self._data_files()
        counted = files if new_files is None else new_files
        if stats is None:
            stats = self._harvest_file_stats(counted)
        rec = {
            "seq": seq,
            "ts": time.time(),
            "op": op,
            "rows_written": sum(s["rows"] for s in stats.values()),
            "metrics": metrics or {},
            "files": files,
            "stats": stats,
        }
        os.makedirs(self._log_dir(), exist_ok=True)
        tmp = os.path.join(self._log_dir(), f".tmp-{uuid.uuid4().hex[:8]}")
        with open(tmp, "w") as f:
            json.dump(rec, f)
        dst = os.path.join(self._log_dir(), f"{seq:08d}.json")
        try:
            os.link(tmp, dst)
        except FileExistsError:
            raise ConcurrentCommitError(
                f"commit {seq} already exists in {self._log_dir()} — "
                "another writer committed concurrently; this table is "
                "single-writer (the racing write's data files may need "
                "cleanup)"
            ) from None
        finally:
            try:
                os.unlink(tmp)
            except OSError:
                pass
        self._maybe_checkpoint(rec)
        return rec

    def detail(self) -> dict:
        """``DESCRIBE DETAIL`` parity: one summary dict — location,
        file/row/byte counts, partition columns, commit span. All
        control-plane (directory listing + log records + file sizes)."""
        files = self._data_files() if self.exists() else []
        hist = self.history()
        return {
            "location": self.path,
            "num_files": len(files),
            "size_bytes": sum(
                os.path.getsize(os.path.join(self.path, f)) for f in files
            ),
            "partition_columns": list(self.partition_by),
            "num_commits": len(hist),
            "last_commit_seq": hist[-1]["seq"] if hist else None,
            "last_op": hist[-1]["op"] if hist else None,
            "properties": self.properties() if self.exists() else {},
        }

    # -- time travel ---------------------------------------------------------
    def as_of(self, seq: int) -> DataFrame:
        """Read the table exactly as it was after commit ``seq`` —
        ``VERSION AS OF`` parity (di_landing_to_raw_generic_v2.py:774-794).
        Files replaced since then are resolved from ``_history/pre*``
        retained snapshots; raises if ``vacuum()`` already removed them."""
        recs = [r for r in self.history() if r["seq"] == seq]
        if not recs:
            raise ValueError(f"no commit {seq} in log for {self.path}")
        roots = [self.path]
        hist = self._hist_dir()
        if os.path.isdir(hist):
            roots += [
                os.path.join(hist, d) for d in sorted(os.listdir(hist))
            ]
        by_root: dict[str, list[str]] = {}
        for rel in recs[0]["files"]:
            for root in roots:
                cand = os.path.join(root, rel)
                if os.path.isfile(cand):
                    by_root.setdefault(root, []).append(cand)
                    break
            else:
                raise ValueError(
                    f"file {rel} of commit {seq} no longer retained "
                    f"(vacuumed?) in {self.path}"
                )
        dv_dirs = [
            self._dv_dir(root)
            for root in by_root
            if os.path.isdir(self._dv_dir(root))
            # a crash between a retire's history write and its cleanup
            # can leave a file-less _dv dir — unreadable as parquet
            and self._data_files(self._dv_dir(root))
        ]
        era_pairs = []
        for root, paths in by_root.items():
            # a snapshot may span partition-spec eras (evolution is
            # metadata-only): group by each file's path-derived spec
            for spec, group in self._era_pairs(root, paths):
                r = self._apply_read_schema(self.spark.read)
                if spec:
                    r = r.option("basePath", root)
                f = r.parquet(*group)
                if dv_dirs:
                    # metadata keys must be materialized per-scan (they
                    # don't resolve through a union)
                    f = f.select(
                        "*",
                        F.col("_metadata.file_name").alias("__dv_f"),
                        F.col("_metadata.row_index").alias("__dv_p"),
                    )
                era_pairs.append((spec, f))
        df = self._union_era_frames(era_pairs)
        if dv_dirs:
            dv = None
            for d in dv_dirs:
                f = self.spark.read.parquet(d)
                dv = f if dv is None else dv.unionByName(f)
            dv = dv.where(F.col("dv_seq") <= seq)
            cond = (F.col("__dv_f") == dv["file_name"]) & (
                F.col("__dv_p") == dv["row_index"]
            )
            df = df.join(dv, cond, "left_anti").drop("__dv_f", "__dv_p")
        # current column mapping applies to every root — physical names
        # are immortal, so pre-rename snapshots read correctly under
        # the live logical names (Delta's metadata-mapping behavior)
        return self._from_physical(df)

    def as_of_timestamp(self, ts: float) -> DataFrame:
        """``TIMESTAMP AS OF`` parity: read the table as of the LAST
        commit whose wall-clock commit time is <= ``ts`` (epoch
        seconds) — Delta resolves a timestamp to the latest version at
        or before it the same way. Raises if the timestamp predates
        the first commit."""
        eligible = [r for r in self.history() if r["ts"] <= ts]
        if not eligible:
            raise ValueError(
                f"no commit at or before timestamp {ts} in {self.path} "
                "(earliest commit is newer)"
            )
        return self.as_of(eligible[-1]["seq"])

    def vacuum(
        self, retain_last: int | None = None, dry_run: bool = False
    ) -> int:
        """Drop retained historical file snapshots (Delta ``VACUUM``).
        Commit metadata stays; ``as_of`` for commits whose snapshots
        were removed will raise afterwards. Returns the number of
        snapshot dirs removed.

        ``retain_last`` keeps the snapshots needed to reconstruct the
        most recent N commits (Delta's retention-window semantics,
        count-based instead of hours: a ``pre{seq}`` snapshot holds the
        files a commit at ``seq`` replaced, so time travel to any
        commit >= cutoff needs every snapshot with ``seq > cutoff``).
        ``None`` (default) drops everything — the pre-existing
        reclaim-it-all behavior.

        ``dry_run=True`` (``VACUUM ... DRY RUN`` parity) only REPORTS:
        returns the count without touching anything; use
        ``vacuum_candidates`` for the snapshot names themselves."""
        if retain_last is not None and retain_last < 1:
            raise ValueError(
                f"vacuum: retain_last must be >= 1 (got {retain_last}); "
                "use retain_last=None to drop every snapshot"
            )
        doomed = self.vacuum_candidates(retain_last)
        if not dry_run:
            hist = self._hist_dir()
            for d in doomed:
                shutil.rmtree(os.path.join(hist, d), ignore_errors=True)
            if retain_last is None and os.path.isdir(hist):
                shutil.rmtree(hist, ignore_errors=True)
        return len(doomed)

    def vacuum_candidates(self, retain_last: int | None = None) -> list[str]:
        """The snapshot dirs a ``vacuum(retain_last)`` would remove —
        the DRY RUN listing (control-plane: directory names only)."""
        hist = self._hist_dir()
        if not os.path.isdir(hist):
            return []
        if retain_last is None:
            return sorted(os.listdir(hist))
        commits = self.history()
        if not commits:
            return []
        idx = max(0, len(commits) - retain_last)
        # RETAIN 0 keeps nothing: the cutoff sits past the last commit
        cutoff = (
            commits[idx]["seq"] if idx < len(commits) else commits[-1]["seq"] + 1
        )
        out = []
        for d in sorted(os.listdir(hist)):
            if not d.startswith("pre"):
                continue
            try:
                seq = int(d[3:])
            except ValueError:
                continue
            if seq <= cutoff:
                out.append(d)
        return out

    def restore(self, seq: int) -> None:
        """Roll the table back to its state after commit ``seq`` —
        Delta ``RESTORE TABLE ... TO VERSION AS OF`` parity. The old
        state lands as a NEW commit (op ``restore``), so history stays
        append-only and the restore itself is time-travelable /
        auditable; requires the target version's snapshots to still be
        retained (``as_of`` raises after vacuum dropped them)."""
        old = self.as_of(seq)
        self.overwrite(old, metrics={"restored_seq": seq}, op="restore")

    def clone(self, dest_path: str) -> "ParquetTable":
        """SHALLOW CLONE — ``CREATE TABLE ... SHALLOW CLONE src`` (Delta)
        parity: an O(live files) metadata-only copy. Every live data
        file is HARDLINKED into ``dest_path`` (zero data bytes copied;
        same filesystem required), the active deletion-vector sidecar
        and table properties (constraints, schema_evolved, bucketing)
        travel with it, and the clone starts a FRESH commit log whose
        first record is op ``clone`` naming the source — exactly
        Delta's semantics: time travel on the clone begins at the
        clone.

        Divergence is free and safe in both directions because no
        commit path ever modifies a data file in place: appends add
        new files; COW delete/update/overwrite RENAME the clone's own
        directory entries (a hardlink is a separate entry — the
        source's entry and bytes are untouched) and write replacements
        as new files; ``vacuum`` on either side just unlinks names,
        decrementing the shared inode's link count. The 100 TB use
        case: fork a full production table for a backfill experiment
        in seconds, pay storage only for the diff."""
        if not self.exists():
            raise ValueError(f"clone: source table {self.path} is empty")
        if os.path.isdir(dest_path) and os.listdir(dest_path):
            raise ValueError(f"clone: destination {dest_path} not empty")
        os.makedirs(dest_path, exist_ok=True)
        for rel in self._data_files():
            dst = os.path.join(dest_path, rel)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.link(os.path.join(self.path, rel), dst)
        dvd = self._dv_dir()
        if os.path.isdir(dvd):
            # the clone gets the sidecar under the plain _dv name (its
            # own generation lineage starts clean, no pointer) with
            # dv_seq RE-STAMPED to 0: the source's seq stamps mean
            # nothing in the clone's fresh commit log — keeping them
            # would let clone-side as_of(1)/restore(1) resurrect rows
            # the source deleted before the clone. The sidecar is
            # O(deleted rows), so this is the one non-hardlink copy.
            self.spark.read.parquet(dvd).withColumn(
                "dv_seq", F.lit(0).cast("bigint")
            ).write.parquet(os.path.join(dest_path, "_dv"))
        dst_t = ParquetTable(
            self.spark, dest_path, partition_by=list(self.partition_by)
        )
        props = self.properties()
        if props:
            dst_t.set_properties(props)
        dst_t._record_commit(
            "clone",
            {"source": self.path, "source_seq": (
                self.history()[-1]["seq"] if self.history() else None
            )},
            new_files=dst_t._data_files(),
            # Delta's clone copies the source add-actions' stats
            # verbatim — same here: the hardlinked bytes are identical,
            # so the source log's per-file stats are authoritative and
            # the clone commit pays zero footer reads.
            stats=self.file_stats(),
        )
        return dst_t

    # -- CHECK constraints ---------------------------------------------------
    def add_check_constraint(self, name: str, expr_sql: str) -> None:
        """``ALTER TABLE ... ADD CONSTRAINT ... CHECK (expr)`` parity
        with Delta: the constraint is validated against the EXISTING
        data first (one existence-probe scan, short-circuits at the
        first violation), stored in the table properties, and enforced
        on every subsequent write — append, overwrite, and the
        partition-scoped commit path all refuse a batch containing a
        row where the expression is FALSE (NULL satisfies, SQL
        standard three-valued logic). Enforcement costs one
        predicate-only probe per write per constraint, only when
        constraints exist."""
        if self.exists():
            self._check_frame({name: expr_sql}, self.read())
        cons = dict(self.properties().get("constraints") or {})
        cons[name] = expr_sql
        self.set_properties({"constraints": cons})
        self._record_commit(
            "add_constraint", {"name": name, "expr": expr_sql}, new_files=[]
        )

    def drop_check_constraint(self, name: str) -> None:
        cons = dict(self.properties().get("constraints") or {})
        if name in cons:
            del cons[name]
            self.set_properties({"constraints": cons})
            self._record_commit(
                "drop_constraint", {"name": name}, new_files=[]
            )

    def _check_frame(self, cons: dict, df: DataFrame) -> None:
        for name, sql in cons.items():
            bad = df.where(~F.coalesce(F.expr(sql), F.lit(True)))
            if bad.limit(1).count() > 0:
                raise CheckConstraintViolation(
                    f"CHECK constraint {name} ({sql}) violated"
                )

    def _enforce_constraints(self, df: DataFrame) -> None:
        cons = self.properties().get("constraints") or {}
        if cons:
            # constraints may reference generated columns (Delta
            # allows it); an incoming batch doesn't carry them, so
            # compute any missing ones for the probe only
            for name, expr in self._generated().items():
                if name not in df.columns:
                    df = df.withColumn(name, F.expr(expr))
            self._check_frame(cons, df)

    # -- identity columns ----------------------------------------------------
    def identity_spec(self) -> dict:
        return self.properties().get("identity") or {}

    def add_identity_column(
        self, name: str, start: int = 1, step: int = 1, always: bool = True
    ) -> None:
        """``GENERATED {ALWAYS|BY DEFAULT} AS IDENTITY (START WITH s
        INCREMENT BY k)`` — Delta identity-column parity. The column is
        table METADATA: every ``append``/``overwrite`` batch that
        omits it gets values allocated past the persisted high-water
        mark; ``always=True`` (Delta's ALWAYS) rejects batches that
        supply the column, ``always=False`` (BY DEFAULT) passes
        explicit values through (the caller owns uniqueness then, as
        in Delta).

        The high-water mark advances from the COMMIT'S OWN per-file
        stats (``_advance_identity_hwm``): the footer read the commit
        record already pays yields max(identity) of the written files,
        so allocation state costs zero extra jobs — Delta tracks its
        identity watermark from add-action stats the same way."""
        if step == 0:
            raise ValueError("add_identity_column: step must be non-zero")
        if name in self._generated():
            raise ValueError(
                f"add_identity_column: {name!r} is a generated column"
            )
        spec = self.identity_spec()
        if name in spec:
            raise ValueError(f"identity column {name!r} already declared")
        if self.exists() and self._data_files() and name in self.read().columns:
            raise ValueError(
                f"add_identity_column: column {name!r} already holds data "
                "(declare identity before the first write, as Delta does)"
            )
        spec[name] = {"start": start, "step": step, "hwm": None, "always": always}
        self.set_properties({"identity": spec})
        self._record_commit(
            "add_identity_column",
            {"column": name, "start": start, "step": step, "always": always},
            new_files=[],
        )

    def _fill_identity(
        self, df: DataFrame, order_by: list[str] | None = None
    ) -> DataFrame:
        """Assign declared identity columns missing from ``df``.

        Default (``order_by=None``) is Delta's allocation: ONE pass,
        no shuffle — ``monotonically_increasing_id()`` gives each row
        a (partition, row-index) rank, so values are unique and
        increasing within the batch but may have gaps between
        partitions (exactly Delta's documented contract; gaps are the
        price of not coordinating partitions). ``order_by`` switches
        to gap-free ``ROW_NUMBER() OVER (ORDER BY ...)`` — a global
        range-sort shuffle of the BATCH (not the table), for
        reproducible pipelines that need deterministic ids."""
        spec = self.identity_spec()
        if not spec:
            return df
        from pyspark.sql import Window

        for name, s in spec.items():
            base = s["hwm"] if s["hwm"] is not None else s["start"] - s["step"]
            step = s["step"]
            if name in df.columns:
                if s.get("always", True):
                    raise ValueError(
                        f"column {name!r} is GENERATED ALWAYS AS IDENTITY — "
                        "values are table-allocated; remove it from the "
                        "batch (or declare it with always=False)"
                    )
                # BY DEFAULT: explicit values pass through, NULLs get
                # allocated (Delta's omitted-value behavior) — the
                # surrogate-key merge shape: carried ids survive, new
                # rows draw fresh ones
                need = F.col(name).isNull()
                if order_by:
                    rank = F.sum(need.cast("long")).over(
                        Window.orderBy(*[F.col(c) for c in order_by])
                        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
                    )
                else:
                    rank = F.monotonically_increasing_id() + F.lit(1)
                df = df.withColumn(
                    name,
                    F.when(
                        need, (F.lit(base) + F.lit(step) * rank).cast("long")
                    ).otherwise(F.col(name).cast("long")),
                )
                continue
            if order_by:
                rank = F.row_number().over(
                    Window.orderBy(*[F.col(c) for c in order_by])
                ).cast("long")
            else:
                rank = F.monotonically_increasing_id() + F.lit(1)
            df = df.withColumn(
                name, (F.lit(base) + F.lit(step) * rank).cast("long")
            )
        return df

    def _advance_identity_hwm(self, rec: dict) -> None:
        """Advance each identity watermark past the extreme value the
        commit at ``rec`` wrote — read from the record's per-file
        stats, zero extra I/O. Monotone: an overwrite that removed the
        largest ids does NOT lower the mark (Delta never reuses
        identity values). Falls back to one scan of the commit's own
        files in the (theoretical) case stats are absent."""
        spec = self.identity_spec()
        if not spec:
            return
        stats = rec.get("stats") or {}
        changed = False
        for name, s in spec.items():
            phys = self._colmap().get(name, name)
            up = s["step"] > 0
            vals = []
            missing = []
            for rel, st in stats.items():
                ent = (st.get("cols") or {}).get(phys)
                v = None if ent is None else ent["max" if up else "min"]
                if v is None:
                    if st.get("rows"):
                        missing.append(rel)
                else:
                    vals.append(v)
            if missing:
                agg = F.max(phys) if up else F.min(phys)
                row = self.spark.read.parquet(
                    *[os.path.join(self.path, f) for f in missing]
                ).agg(agg).collect()[0][0]
                if row is not None:
                    vals.append(row)
            if not vals:
                continue
            ext = max(vals) if up else min(vals)
            cur = s["hwm"]
            if cur is None or (ext > cur if up else ext < cur):
                s["hwm"] = ext
                changed = True
        if changed:
            self.set_properties({"identity": spec})

    # -- writes --------------------------------------------------------------
    def _writer(self, df: DataFrame, mode: str, cluster: bool = False):
        """Writer for the create / append / partition-scoped commits.

        ``cluster=True`` (``overwrite_partitions`` only) clusters a
        partitioned write's rows by the physical partition columns
        first (``rebalance`` hint — Delta's optimized write): AQE packs
        each small partition into one task and splits only partitions
        above the advisory size, so a commit leaves one file per
        touched partition instead of one per (write task, partition).
        Without AQE the hint is a plain hash shuffle on the same
        columns: still one file per partition, none split. Partitioned
        ``append`` is not clustered: the extra shuffle of the written
        data is measured only on small bucket rewrites, where opening
        files dominates, not on appends. ``overwrite()`` keeps its
        own writer and the caller's layout: ``compact`` relies on
        ``coalesce(n)`` and ``compact(zorder_by=...)`` on its range
        sort."""
        df = self._to_physical(self._with_hidden_partitions(df))
        if not self.partition_by:
            return df.write.mode(mode)
        cols = self._physical_partition_cols()
        if cluster:
            df = df.hint("rebalance", *cols)
        return df.write.mode(mode).partitionBy(*cols)

    def create_empty(self, schema, metrics: dict | None = None) -> None:
        """writers/writer.py:142-155 ``_create_table_by_scd_type``."""
        if not self.exists():
            df = self.spark.createDataFrame([], schema)
            self._writer(df, "overwrite").parquet(self.path)
            self._record_commit("create", metrics, new_files=[])

    def append(
        self,
        df: DataFrame,
        metrics: dict | None = None,
        merge_schema: bool = False,
        identity_order_by: list[str] | None = None,
    ) -> None:
        """writers/batch_writers.py:29-41 ``append_write`` /
        writers/writer.py:941-949 ``simple_append_write_to_delta``.

        ``merge_schema=True`` is Delta's ``mergeSchema`` append: a
        batch may ADD columns (existing rows read them back as NULL).
        The table is flagged ``schema_evolved`` so subsequent reads
        union footers instead of trusting the first; without the flag
        a batch whose columns differ from the stored schema raises
        (Delta's default schema enforcement) rather than silently
        writing files later reads would drop."""
        df = self._fill_identity(df, identity_order_by)
        for cname, meta in self._added_columns().items():
            # DEFAULT stamping: a batch that omits a metadata-added
            # column gets its declared default (NULL when none) — a
            # batch that supplies the column wins
            if cname not in df.columns:
                df = df.withColumn(
                    cname, F.lit(meta.get("default")).cast(meta["type"])
                )
        defaults = self.properties().get("column_defaults") or {}
        if defaults and self.exists():
            # stored-column defaults (ALTER COLUMN SET DEFAULT): same
            # stamping rule, type taken from the table's read schema
            cur_types = {f.name: f.dataType for f in self.read().schema.fields}
            for cname, val in defaults.items():
                if cname not in df.columns and cname in cur_types:
                    df = df.withColumn(cname, F.lit(val).cast(cur_types[cname]))
        self._enforce_constraints(df)
        gen_named = sorted(set(df.columns) & set(self._generated()))
        if gen_named:
            raise ValueError(
                f"append: columns {gen_named} are GENERATED — their "
                "values compute on read; remove them from the batch"
            )
        exists = os.path.isdir(self.path)
        widened: dict | None = None
        if exists and self._data_files():
            cur = self.read().schema
            # generated columns are never stored — a batch is complete
            # without them
            stored = set(cur.fieldNames()) - set(self._generated())
            diff = set(df.columns) ^ stored  # added OR missing columns
            if diff and not merge_schema:
                raise ValueError(
                    f"append: batch schema differs on {sorted(diff)} — "
                    "pass merge_schema=True to evolve (Delta mergeSchema); "
                    "missing columns read back as NULL"
                )
            evolved = bool(diff)
            widened, upcasts = self._check_type_widening(
                cur, df.schema, merge_schema
            )
            if upcasts:
                # narrower batch columns coerce UP to the stored type
                # (Delta's input coercion) — never write a narrow file
                # into a wide table
                df = df.select(
                    *[
                        F.col(c).cast(upcasts[c]).alias(c)
                        if c in upcasts
                        else F.col(c)
                        for c in df.columns
                    ]
                )
        else:
            evolved = False
        before = set(self._data_files()) if exists else set()
        self._writer(df, "append").parquet(self.path)
        if evolved:
            # flag only after the write succeeds — a failed append must
            # not leave the table paying the mergeSchema multi-footer
            # union forever
            self.set_properties({"schema_evolved": True})
        if widened is not None:
            # ditto: the widened logical schema becomes the table's
            # read schema only once the wide files actually exist
            self.set_properties({"widened_schema": widened})
        new = [f for f in self._data_files() if f not in before]
        rec = self._record_commit("append", metrics, new_files=new)
        self._advance_identity_hwm(rec)

    def overwrite(
        self,
        df: DataFrame,
        metrics: dict | None = None,
        op: str = "overwrite",
        identity_order_by: list[str] | None = None,
    ) -> None:
        """Safe even when ``df`` was derived from ``self.read()``: the
        new state is materialized into a staging directory first, then
        swapped in with directory renames. On a failed swap the previous
        state is renamed back, so the table is never lost; on success
        the previous state is retained under ``_history/pre{seq}`` for
        time travel (removed by ``vacuum()``)."""
        if op == "overwrite":
            # only USER batches get identity allocation / the ALWAYS
            # guard — internal rewrites (delete/update/restore/...)
            # legitimately carry the existing identity values through
            df = self._fill_identity(df, identity_order_by)
        if op not in ("compact", "zorder"):
            # compaction/clustering only rearrange rows that already
            # passed the constraints — re-probing there would add an
            # O(table) scan to every maintenance pass
            self._enforce_constraints(df)
        staging = f"{self.path}.__staging__{uuid.uuid4().hex[:8]}"
        backup = f"{self.path}.__old__{uuid.uuid4().hex[:8]}"
        w = self._to_physical(self._with_hidden_partitions(df)).write.mode(
            "overwrite"
        )
        if self.partition_by:
            w = w.partitionBy(*self._physical_partition_cols())
        try:
            w.parquet(staging)
            seq = self._next_seq()
            had_prior = os.path.isdir(self.path)
            if had_prior:
                os.rename(self.path, backup)
            try:
                os.rename(staging, self.path)
            except BaseException:
                if had_prior:
                    os.rename(backup, self.path)  # restore — never lose the table
                raise
            if had_prior:
                # carry the commit log and retained history into the new
                # state, then retain the replaced data files for as_of.
                for aux in _AUX:
                    src = os.path.join(backup, aux)
                    if os.path.exists(src):
                        os.rename(src, os.path.join(self.path, aux))
                os.makedirs(self._hist_dir(), exist_ok=True)
                os.rename(backup, os.path.join(self._hist_dir(), f"pre{seq:08d}"))
        finally:
            shutil.rmtree(staging, ignore_errors=True)
        if self.properties().get("widened_schema") is not None:
            # the rewrite's files define the schema again — a stale
            # pinned schema would mask (or mis-type) replaced columns
            self.set_properties({"widened_schema": None})
        if self.properties().get("added_columns"):
            # the rewrite materialized (or dropped) the metadata-added
            # columns — the files are the schema again, and a stale
            # entry would re-stamp defaults over explicit NULL appends
            self.set_properties({"added_columns": None})
        # After the swap the live tree holds exactly this commit's staged
        # files — pass them so _record_commit reads only their footers
        # (new_files=None would re-read EVERY live footer, O(table) driver
        # work per overwrite, and would record full-table row counts where
        # append commits record per-commit counts).
        rec = self._record_commit(op, metrics, new_files=self._data_files())
        self._advance_identity_hwm(rec)

    def _replace_files(
        self,
        touched: list[str],
        replacement: DataFrame,
        op: str,
        metrics: dict | None,
    ) -> dict:
        """File-scoped copy-on-write commit (unpartitioned tables):
        replace ONLY the named live data files with the replacement
        frame's output files; every other file stays in place
        byte-identical — Delta's touched-files rewrite for UPDATE/
        DELETE, which keeps a 0.1%-selective statement O(touched
        files) instead of O(table). Same staging discipline as
        ``overwrite`` (the replacement materializes fully before any
        live file moves; failures move the retained files back);
        replaced files land under ``_history/pre{seq}`` so ``as_of``
        still resolves them. Staged part files carry fresh task UUIDs,
        so live-name collisions cannot happen."""
        staging = f"{self.path}.__staging__{uuid.uuid4().hex[:8]}"
        try:
            self._to_physical(replacement).write.mode("overwrite").parquet(
                staging
            )
            staged = self._data_files(staging)
            seq = self._next_seq()
            retained = os.path.join(self._hist_dir(), f"pre{seq:08d}")
            moved = []
            try:
                for rel in touched:
                    dst = os.path.join(retained, rel)
                    os.makedirs(os.path.dirname(dst), exist_ok=True)
                    os.rename(os.path.join(self.path, rel), dst)
                    moved.append(rel)
                for rel in staged:
                    os.rename(
                        os.path.join(staging, rel),
                        os.path.join(self.path, rel),
                    )
            except BaseException:
                for rel in moved:  # put the live files back — never lose data
                    os.rename(
                        os.path.join(retained, rel),
                        os.path.join(self.path, rel),
                    )
                raise
            return self._record_commit(op, metrics, new_files=staged)
        finally:
            shutil.rmtree(staging, ignore_errors=True)

    def _retire_dv_for_files(self, touched: list[str], seq: int) -> None:
        """Retire deletion-vector rows referencing the files the commit
        at ``seq`` just replaced (file-scoped copy-on-write): they move
        into that commit's history snapshot (``_history/pre{seq}/_dv``)
        so ``as_of`` any earlier commit still applies them to the
        retained data files — the travels-with-its-snapshot contract
        ``delete_where_dv`` documents, which the full-overwrite path
        honors by leaving ``_dv`` inside the backup tree. The live
        sidecar is then rewritten without them, so footer-arithmetic
        live-row counts stay exact.

        Crash-safe, in order: (1) the history copy lands first
        (duplicated DV rows are harmless — reads anti-join on
        (file, position)); (2) surviving rows are written to a fresh
        generation dir ``_dv.g{seq}``; (3) a ``_dv_ptr`` pointer file
        is renamed into place — an atomic flip, so there is never a
        window with no active sidecar (the failure mode of a
        rename-swap of the dir itself); (4) superseded generations are
        swept — inert garbage whatever state a prior crash left."""
        dvd = self._dv_dir()
        if not os.path.isdir(dvd):
            return
        live = self.spark.read.parquet(dvd)
        retired = live.where(F.col("file_name").isin(touched))
        if retired.limit(1).count() > 0:  # sidecar-sized, control-plane
            pre_root = os.path.join(self._hist_dir(), f"pre{seq:08d}")
            os.makedirs(pre_root, exist_ok=True)
            retired.write.mode("append").parquet(self._dv_dir(pre_root))
        gen = f"_dv.g{seq:08d}"
        new_dir = os.path.join(self.path, gen)
        live.where(~F.col("file_name").isin(touched)).write.mode(
            "overwrite"
        ).parquet(new_dir)
        n = self._footer_rows(
            [os.path.join(new_dir, f) for f in self._data_files(new_dir)]
        )
        if n == 0:
            shutil.rmtree(new_dir, ignore_errors=True)
            gen = ""
        tmp = os.path.join(self.path, f".dvptr-{uuid.uuid4().hex[:8]}")
        with open(tmp, "w") as f:
            f.write(gen)
        os.rename(tmp, os.path.join(self.path, DV_PTR))
        active = os.path.join(self.path, gen) if gen else None
        for d in os.listdir(self.path):
            if d != "_dv" and not d.startswith("_dv.g"):
                continue
            full = os.path.join(self.path, d)
            if full != active and os.path.isdir(full):
                shutil.rmtree(full, ignore_errors=True)

    def _scan_with_positions(self) -> DataFrame:
        """The live frame with ``__f``/``__p`` file-position columns
        (DV-filtered when a sidecar exists) — the input every
        file-scoped statement derives touched files and replacement
        rows from. Metadata columns must be materialized at the scan
        (they don't resolve through joins)."""
        if len(self._live_specs()) > 1:
            # a COW rewrite would re-lay touched rows under the CURRENT
            # spec while leaving their untouched file-mates in the old
            # era — legal but surprising; converge first, explicitly
            raise ValueError(
                "file-scoped statement on a table whose live files span "
                "partition-spec eras — run rewrite_to_current_spec() "
                "(or overwrite()) first"
            )
        r = self._apply_read_schema(self.spark.read)
        if self.properties().get("schema_evolved"):
            r = r.option("mergeSchema", "true")
        if self.properties().get("strict_files"):
            # same log-as-source-of-truth contract as read(): a COW
            # statement must not sweep a crashed writer's stray rows
            # into the table
            files = (self._latest_record() or {}).get("files") or []
            if self.partition_by:
                r = r.option("basePath", self.path)
            src = r.parquet(*[os.path.join(self.path, f) for f in files])
        else:
            src = r.parquet(self.path)
        base = src.select(
            "*",
            F.col("_metadata.file_name").alias("__f"),
            F.col("_metadata.row_index").alias("__p"),
        )
        dvd = self._dv_dir()
        if os.path.isdir(dvd):
            dv = self.spark.read.parquet(dvd)
            cond = (F.col("__f") == dv["file_name"]) & (
                F.col("__p") == dv["row_index"]
            )
            base = base.join(dv, cond, "left_anti")
        return self._from_physical(base)  # __f/__p pass through

    def _live_rows_in_files(self, touched: list[str]) -> int:
        """Footer row count of the named files minus their deletion-
        vector rows — control-plane (footer reads + a sidecar scan)."""
        n = self._footer_rows([os.path.join(self.path, f) for f in touched])
        dvd = self._dv_dir()
        if os.path.isdir(dvd):
            hit = (
                self.spark.read.parquet(dvd)
                .where(F.col("file_name").isin(touched))
                .count()
            )
            n -= hit
        return n

    def delete_where(
        self,
        predicate,
        cdf_table: "ParquetTable | None" = None,
    ) -> int:
        """Row erasure (GDPR/right-to-be-forgotten parity with Delta's
        ``DELETE FROM``): rewrite the table without rows matching
        ``predicate`` (a Column or SQL string), recording a ``delete``
        commit with the erased row count. Returns rows deleted.

        ``cdf_table`` additionally appends ``delete``-typed change rows
        for the erased keys (``_commit_version`` = this delete's commit
        seq), so downstream CDF consumers propagate the erasure instead
        of resurrecting the rows from stale copies. The feed lands
        BEFORE the state rewrite on purpose: a crash in between
        over-propagates a delete that didn't commit — the conservative
        failure for erasure (consumers drop rows that still exist and
        re-sync), versus a committed erasure downstream never hears
        about. Each feed append carries a unique intent id in its
        commit metrics and the table's delete commit records the same
        id when it lands; ``reconcile_cdf`` (run automatically at the
        START of every ``delete_where`` with a feed) detects intents
        that never landed and re-emits their rows as ``insert`` changes
        so downstream state converges back. NOTE: erasure is only
        complete after ``vacuum()`` — time-travel history retains the
        pre-delete files until then (same caveat Delta documents).

        Scale shape: on an unpartitioned table the rewrite is
        FILE-SCOPED copy-on-write (Delta's touched-files DELETE) —
        only the files actually containing matched rows are replaced,
        every other file stays byte-identical, so a selective delete
        costs O(touched files + one dir listing), not O(table). The
        full staged-swap path remains for partitioned tables and for
        deletes touching every file."""
        pred = F.expr(predicate) if isinstance(predicate, str) else predicate
        if not self.exists():
            return 0
        if cdf_table is not None:
            self.reconcile_cdf(cdf_table)
        cur = self._scan_with_positions()
        doomed = cur.where(F.coalesce(pred, F.lit(False)))
        # touched-file discovery doubles as the existence probe; the
        # list is control-plane sized (bounded by the file count)
        touched = sorted(
            r["__f"] for r in doomed.select("__f").distinct().collect()
        )
        if not touched:
            return 0
        all_files = self._data_files()
        seq = self._next_seq()
        intent = uuid.uuid4().hex
        if cdf_table is not None:
            feed = (
                doomed.drop("__f", "__p")
                .withColumn("_change_type", F.lit("delete"))
                .withColumn("_commit_version", F.lit(seq).cast("bigint"))
            )
            cdf_table.append(
                feed,
                metrics={"delete_intent": intent, "delete_intent_seq": seq},
            )
        metrics = {"delete_intent": intent} if cdf_table is not None else None
        if not self.partition_by and len(touched) < len(all_files):
            before = self._live_rows_in_files(touched)
            replacement = (
                cur.where(F.col("__f").isin(touched))
                .where(~F.coalesce(pred, F.lit(False)))
                .drop("__f", "__p")
            )
            rec = self._replace_files(touched, replacement, "delete", metrics)
            self._retire_dv_for_files(touched, rec["seq"])
        else:
            before = self._live_rows_in_files(all_files)
            self.overwrite(
                cur.where(~F.coalesce(pred, F.lit(False))).drop("__f", "__p"),
                op="delete",
                metrics=metrics,
            )
            rec = self.history()[-1]
        n = before - rec["rows_written"]
        self._amend_last_commit_metrics({"rows_deleted": n})
        return n

    def update_where(
        self,
        assignments: dict,
        predicate=None,
        cdf_table: "ParquetTable | None" = None,
    ) -> int:
        """``UPDATE <table> SET col = expr [WHERE pred]`` parity with
        Delta's UPDATE statement: rewrite the table with ``assignments``
        (column → Column or SQL string) applied to rows matching
        ``predicate`` (all rows when None); other rows pass through
        byte-identical. Records an ``update`` commit with
        ``rows_updated``. A predicate evaluating to NULL on a row does
        NOT match it (Delta's three-valued-logic rule — coalesced to
        false). Assignment expressions may reference any current
        column (pre-update values, as UPDATE semantics require).

        ``cdf_table`` appends Delta-CDF-shaped ``update_preimage`` /
        ``update_postimage`` row pairs stamped with this update's
        commit seq. Same crash contract as ``delete_where``: the feed
        lands BEFORE the state rewrite carrying an intent id; a crash
        in between over-propagates an update that never landed, and
        ``reconcile_cdf`` (run automatically at the start of the next
        feed-backed update/delete) detects the orphaned intent and
        re-emits the still-present pre-image rows as ``insert``
        changes so downstream state converges back."""
        if not self.exists():
            return 0
        pred = F.expr(predicate) if isinstance(predicate, str) else predicate
        cond = (
            F.coalesce(pred, F.lit(False)) if pred is not None else F.lit(True)
        )
        if cdf_table is not None:
            self.reconcile_cdf(cdf_table)
        cur = self._scan_with_positions()
        data_cols = [c for c in cur.columns if c not in ("__f", "__p")]
        exprs = {
            c: (F.expr(v) if isinstance(v, str) else v)
            for c, v in assignments.items()
        }
        unknown = sorted(set(exprs) - set(data_cols))
        if unknown:
            raise ValueError(f"update_where: unknown columns {unknown}")
        hits = cur.where(cond)
        # touched-file discovery doubles as the existence probe
        touched = sorted(
            r["__f"] for r in hits.select("__f").distinct().collect()
        )
        if not touched:
            return 0
        n = hits.count()

        def _apply(frame: DataFrame) -> DataFrame:
            return frame.select(
                *[
                    F.when(cond, exprs[c]).otherwise(F.col(c)).alias(c)
                    if c in exprs
                    else F.col(c)
                    for c in data_cols
                ]
            )

        seq = self._next_seq()
        intent = uuid.uuid4().hex
        if cdf_table is not None:
            pre = hits.drop("__f", "__p")
            post = hits.select(
                *[
                    exprs[c].alias(c) if c in exprs else F.col(c)
                    for c in data_cols
                ]
            )
            feed = (
                pre.withColumn("_change_type", F.lit("update_preimage"))
                .unionByName(
                    post.withColumn(
                        "_change_type", F.lit("update_postimage")
                    )
                )
                .withColumn("_commit_version", F.lit(seq).cast("bigint"))
            )
            cdf_table.append(
                feed,
                metrics={"delete_intent": intent, "delete_intent_seq": seq},
            )
        metrics = {
            "rows_updated": n,
            **({"delete_intent": intent} if cdf_table is not None else {}),
        }
        all_files = self._data_files()
        if not self.partition_by and len(touched) < len(all_files):
            # file-scoped copy-on-write: rewrite ONLY the files holding
            # matched rows (Delta's touched-files UPDATE); constraints
            # are enforced on the replacement — the only new rows
            replacement = _apply(cur.where(F.col("__f").isin(touched)))
            self._enforce_constraints(replacement)
            rec = self._replace_files(touched, replacement, "update", metrics)
            self._retire_dv_for_files(touched, rec["seq"])
        else:
            self.overwrite(
                _apply(cur), op="update", metrics=metrics
            )
        return n

    def reconcile_cdf(self, cdf_table: "ParquetTable") -> int:
        """Repair the change-feed after a crash between the feed append
        and the state rewrite: any feed commit whose ``delete_intent``
        never landed as a table ``delete`` (or ``update``) commit
        describes a change that did NOT happen (the staged swap is
        atomic — no rows were touched). For an orphaned update intent
        the still-present rows are its PRE-images — re-emitting them
        reverts consumers that applied the phantom post-images. Per
        orphaned intent:

        1. a ``cdf_reconcile`` marker commit is recorded on THIS table.
           When reconcile runs before any other commit, the marker
           consumes the very seq the crashed delete reserved, so no
           future commit reuses the phantom ``_commit_version``. If an
           unrelated commit interleaved first (crash → append → repair),
           that commit already consumed the reserved seq: the feed's
           delete rows stamped with it then ALIAS that real commit. The
           marker records this honestly — ``reserved_seq`` (from the
           feed commit's ``delete_intent_seq`` metric) plus
           ``phantom_seq_aliased: true`` — so consumers can detect the
           remap; they must treat feed rows at an aliased version as
           belonging to the reconciled intent, not the real commit;
        2. the orphan's rows STILL PRESENT in the table are re-emitted
           as ``insert`` changes at the marker's version (rows a later
           re-run of the delete already erased are skipped — re-
           emitting them would resurrect a legitimate erasure
           downstream), and the intent is marked reconciled in the
           repair append's metrics.

        Version ordering for consumers: apply per key by
        ``(_commit_version, _change_type)`` — lexical change-type order
        puts ``delete`` before ``insert`` within one version, the same
        pre/post convention an in-version row replace uses, so a
        restored insert at the phantom's own version still wins.

        Detection is O(commit records) driver-side JSON — never a feed
        scan; data reads are the one orphaned batch's files plus the
        existence probe against the table. Returns intents repaired."""
        if not cdf_table.exists():
            return 0
        feed_hist = cdf_table.history()
        landed = {
            (r.get("metrics") or {}).get("delete_intent")
            for r in self.history()
            if r["op"] in ("delete", "update")
        }
        reconciled: set = set()
        for r in feed_hist:
            reconciled.update((r.get("metrics") or {}).get("reconciled_intents", []))
        by_seq = {r["seq"]: r["files"] for r in feed_hist}
        repaired = 0
        for r in feed_hist:
            intent = (r.get("metrics") or {}).get("delete_intent")
            if intent is None or intent in landed or intent in reconciled:
                continue
            own = [
                f
                for f in r["files"]
                if f not in set(by_seq.get(r["seq"] - 1, []))
            ]
            if not own:
                continue
            marker_metrics: dict = {"reconciled_intent": intent}
            reserved = (r.get("metrics") or {}).get("delete_intent_seq")
            if reserved is not None:
                marker_metrics["reserved_seq"] = reserved
                # checked BEFORE the marker lands: if the reserved seq
                # already appears in this table's history, an interleaved
                # commit consumed the phantom version and the feed's
                # delete rows alias it — flag the remap for consumers.
                if any(h["seq"] == reserved for h in self.history()):
                    marker_metrics["phantom_seq_aliased"] = True
            marker = self._record_commit(
                "cdf_reconcile", marker_metrics, new_files=[]
            )
            rows = cdf_table.spark.read.parquet(
                *[os.path.join(cdf_table.path, f) for f in own]
            ).drop("_change_type", "_commit_version")
            current = self.read()
            cond = None
            for c in rows.columns:
                e = rows[c].eqNullSafe(current[c])
                cond = e if cond is None else cond & e
            still_here = rows.join(current, cond, "left_semi")
            restored = still_here.withColumn(
                "_change_type", F.lit("insert")
            ).withColumn(
                "_commit_version", F.lit(marker["seq"]).cast("bigint")
            )
            cdf_table.append(
                restored, metrics={"reconciled_intents": [intent]}
            )
            repaired += 1
        return repaired

    def _amend_last_commit_metrics(self, extra: dict) -> None:
        """Merge ``extra`` into the latest commit record's metrics —
        for values (e.g. footer-derived deltas) only computable after
        the commit landed. Atomic same-file rewrite via rename. The
        record is picked by ``_record_names`` — a raw directory sort
        would pick ``_checkpoint.*.json`` (``_`` sorts after digits)."""
        d = self._log_dir()
        path = os.path.join(d, self._record_names()[-1])
        with open(path) as f:
            rec = json.load(f)
        rec["metrics"] = {**rec.get("metrics", {}), **extra}
        tmp = os.path.join(d, f".tmp-{uuid.uuid4().hex[:8]}")
        with open(tmp, "w") as f:
            json.dump(rec, f)
        os.rename(tmp, path)

    def touched_partitions(self, df: DataFrame) -> list[str]:
        """Relative partition directories the batch ``df`` writes into —
        a ``distinct`` over the partition expressions, control-plane
        sized by construction (the partition count, not the row count)."""
        if not self.partition_by:
            raise ValueError("touched_partitions requires partition_by")
        phys = self._physical_partition_cols()
        rows = (
            self._with_hidden_partitions(df)
            .select(*phys)
            .distinct()
            .collect()
        )
        out = []
        for r in rows:
            out.append(
                os.path.join(
                    *[f"{c}={_fmt_partition_value(r[c])}" for c in phys]
                )
            )
        return sorted(out)

    def overwrite_partitions(
        self,
        df: DataFrame,
        metrics: dict | None = None,
        extra_touched: list[str] | None = None,
    ) -> None:
        """Partition-scoped commit: replaces only the partitions present
        in ``df``, leaving all other partitions' files in place — the
        scale path for incremental merges (Delta MERGE rewrites touched
        files only, writers/writer.py:177-281; this rewrites touched
        *partitions* only).

        Safe even when ``df`` was derived from ``self.read()``: the new
        partition data is fully materialized into a staging directory
        *before* any live partition is moved, so the lazy write job never
        races its own input (same staging discipline as ``overwrite``).
        Replaced partition dirs are retained under ``_history/pre{seq}``
        so ``as_of`` still works.

        The staged write clusters rows by the partition columns first
        (``_writer(cluster=True)``): a touched partition below the
        advisory size is rewritten as ONE file, whatever the number of
        write tasks upstream (a 16-bucket streaming merge wrote ~70
        files per commit without it, 16 with it). ``overwrite()`` is
        exempt — compaction and z-order choose their own file layout.

        ``extra_touched`` lists partition dirs (``col=value`` relative
        paths) that the commit logically touches even if ``df`` carries
        no rows for them — e.g. a merge whose delete feed empties a
        bucket. Those partitions are removed from the live table (and
        retained in history); without this, a partition the new state
        says is empty would silently keep its stale files."""
        if not self.partition_by:
            raise ValueError("overwrite_partitions requires partition_by")
        if self.exists() and self._is_mixed_spec():
            # a partition-scoped swap addresses directories of the
            # CURRENT spec only — old-era files holding rows of the
            # same logical partition would silently survive
            raise ValueError(
                "overwrite_partitions on a table whose live files are "
                "not all under the current partition spec — run "
                "rewrite_to_current_spec() first"
            )
        if os.path.isdir(self._dv_dir()):
            # belt-and-braces: delete_where_dv refuses partitioned
            # tables, so live vectors here mean external tampering —
            # replacing partitions would strand them
            raise ValueError(
                "overwrite_partitions: live deletion vectors present — "
                "compact() first to materialize them"
            )
        self._enforce_constraints(df)
        staging = f"{self.path}.__staging__{uuid.uuid4().hex[:8]}"
        try:
            self._writer(df, "overwrite", cluster=True).parquet(staging)
            staged_files = self._data_files(staging)
            staged = sorted({os.path.dirname(rel) for rel in staged_files})
            touched = sorted(set(staged) | set(extra_touched or []))
            seq = self._next_seq()
            retained = os.path.join(self._hist_dir(), f"pre{seq:08d}")
            moved = []
            for rel in touched:
                src = os.path.join(self.path, rel)
                if os.path.isdir(src):
                    dst = os.path.join(retained, rel)
                    os.makedirs(os.path.dirname(dst), exist_ok=True)
                    os.rename(src, dst)
                    moved.append(rel)
            try:
                for rel in staged:
                    src = os.path.join(staging, rel)
                    dst = os.path.join(self.path, rel)
                    os.makedirs(os.path.dirname(dst), exist_ok=True)
                    os.rename(src, dst)
            except BaseException:
                # put the retained partitions back — never lose data
                for rel in moved:
                    dst = os.path.join(retained, rel)
                    target = os.path.join(self.path, rel)
                    shutil.rmtree(target, ignore_errors=True)
                    os.makedirs(os.path.dirname(target), exist_ok=True)
                    os.rename(dst, target)
                shutil.rmtree(retained, ignore_errors=True)
                raise
        finally:
            shutil.rmtree(staging, ignore_errors=True)
        # Count only this commit's staged files (their relative paths are
        # unchanged by the move) — new_files=None would footer-read every
        # live file including UNTOUCHED partitions: O(table) driver work
        # and a full-table rows_written where appends record per-commit.
        self._record_commit(
            "overwrite_partitions",
            dict(metrics or {}, touched_partitions=touched),
            new_files=staged_files,
        )

    def replace_where(self, df: DataFrame, predicate) -> None:
        """Delta's ``overwrite`` with ``replaceWhere``: atomically
        replace EXACTLY the rows matching ``predicate`` with ``df``,
        after validating every incoming row satisfies the predicate
        (Delta raises on violations; silently keeping them would make
        the statement's scope a lie).

        Scale shape: when the table is partitioned and the predicate
        references ONLY partition columns, this is a partition-scoped
        swap — untouched partitions' files never move (Delta's
        replaceWhere-on-partition fast path). Otherwise it degrades to
        one full staged rewrite (keep = rows NOT matching, union the
        batch), the same cost Delta pays for an arbitrary predicate."""
        pred = predicate if not isinstance(predicate, str) else F.expr(predicate)
        bad = df.where(~F.coalesce(pred, F.lit(False))).limit(1).count()
        if bad:
            raise ValueError(
                "replace_where: batch contains rows NOT matching the "
                "predicate — widen the predicate or filter the batch"
            )
        if (
            self.partition_by
            and not self._is_mixed_spec()
            and self._identity_partition_cols() == self.partition_by
        ):
            # partition fast path IF the spec is identity-only (a
            # transform partition is a MANY-to-one projection of its
            # source, so a source predicate is not partition-exact) and
            # the predicate resolves against the partition columns alone (the principled test — no
            # expression-tree introspection): live partitions matching
            # it are replaced or emptied, control-plane sized
            from pyspark.errors import AnalysisException

            live = self.read().select(*self.partition_by).distinct()
            # re-create the tuples as a LINEAGE-FREE local frame before
            # testing resolution: Spark resolves where() references
            # through a select()'s child plan, so filtering `live`
            # directly would silently accept data-column predicates
            # (and match every partition with any qualifying row)
            tuples = self.spark.createDataFrame(
                live.collect(), schema=live.schema
            )
            try:
                doomed = tuples.where(pred).collect()
            except AnalysisException:
                doomed = None  # predicate needs data columns
            if doomed is not None:
                extra = [
                    os.path.join(
                        *[
                            f"{c}={_fmt_partition_value(r[c])}"
                            for c in self.partition_by
                        ]
                    )
                    for r in doomed
                ]
                self.overwrite_partitions(
                    df,
                    metrics={"replace_where": str(pred)},
                    extra_touched=sorted(extra),
                )
                return
        keep = self.read().where(~F.coalesce(pred, F.lit(False)))
        self.overwrite(
            keep.unionByName(df),
            metrics={"replace_where": str(pred)},
            op="replace_where",
        )

    # -- incremental reads ---------------------------------------------------
    def read_since(self, seq: int) -> DataFrame:
        """Rows appended after commit ``seq`` — the commit-log
        incremental read (Delta Change Data Feed's insert-only subset).
        File-level increments are only sound while every later commit is
        file-additive, so any overwrite/compact after ``seq`` raises:
        fall back to ``read()`` (or ``changed_partitions_since`` for
        partition-scoped merges) there. Cost is proportional to the new
        files AND the new commit records (``history_since`` parses only
        records newer than ``seq``), never the table."""
        base_rec = self.commit_record(seq)
        if base_rec is None:
            raise ValueError(f"no commit {seq} in log for {self.path}")
        newer = self.history_since(seq)
        # cdf_reconcile markers are file-neutral (they exist only to
        # consume a crashed delete's reserved seq); set_partition_spec
        # and fsck_remove_orphans touch no live data files either —
        # all three are additive-safe (kept in lockstep with the difs
        # stream reader's _ADDITIVE set)
        bad = [
            r
            for r in newer
            if r["op"]
            not in (
                "append",
                "create",
                "cdf_reconcile",
                "set_partition_spec",
                "fsck_remove_orphans",
                "add_column",
                "set_column_default",
                "drop_column_default",
                "set_column_mask",
                "drop_column_mask",
                "set_row_filter",
                "drop_row_filter",
            )
        ]
        if bad:
            raise ValueError(
                f"read_since({seq}) unsound: commit {bad[0]['seq']} is "
                f"{bad[0]['op']!r} (not file-additive) — read() instead"
            )
        base = set(base_rec["files"])
        latest = (newer[-1] if newer else base_rec)["files"]
        new = [f for f in latest if f not in base]
        if not new:
            return self.read().limit(0)
        return self._scan_files(new)

    def changed_partitions_since(self, seq: int) -> list[str]:
        """Partition dirs touched by any commit after ``seq`` — drives
        incremental downstream rebuilds over partition-scoped merge
        commits (each ``overwrite_partitions`` records its touched set
        in the commit metrics; appends contribute the partitions of
        their new files)."""
        hist = self.history()
        if not any(r["seq"] == seq for r in hist):
            raise ValueError(f"no commit {seq} in log for {self.path}")
        by_seq = {r["seq"]: r["files"] for r in hist}
        touched: set[str] = set()
        for r in hist:
            if r["seq"] <= seq:
                continue
            recorded = r.get("metrics", {}).get("touched_partitions")
            if recorded is not None:
                touched.update(recorded)
            else:
                # infer from the file diff IN BOTH DIRECTIONS: new files
                # mark partitions that gained data, removed files mark
                # partitions a rewrite/delete emptied — missing the
                # latter would leave stale downstream state for dropped
                # partitions
                prev = set(by_seq.get(r["seq"] - 1, []))
                cur = set(r["files"])
                for f in (cur - prev) | (prev - cur):
                    d = os.path.dirname(f)
                    if d and d != ".":
                        touched.add(d)
        return sorted(touched)

    def compact(
        self,
        target_files: int | None = None,
        zorder_by: list[str] | None = None,
        curve: str = "morton",
    ) -> None:
        """Small-file compaction — the engine's ``OPTIMIZE`` parity
        (writers/writer.py:276-281 runs ``OPTIMIZE`` every 101st
        micro-batch; Delta OSS bin-packs the same way). Rewrites the
        table into ``target_files`` files (default: current shuffle
        parallelism) via coalesce — no shuffle, pure file merge.

        ``zorder_by`` upgrades the rewrite to ``OPTIMIZE ... ZORDER BY``
        parity: rows are clustered along the Morton curve (or, with
        ``curve="hilbert"`` and exactly two columns, the
        higher-locality Hilbert curve) of the given integer/date
        columns (one range shuffle; see ``operators/zorder.py``), so
        parquet min/max footer stats prune files for predicates on ANY
        of the clustered columns."""
        if not self.exists():
            return
        n = target_files or int(
            self.spark.conf.get("spark.sql.shuffle.partitions", "32")
        )
        if zorder_by:
            from data_ingestion_framework_spark.operators.zorder import (
                zorder_layout,
            )

            self.overwrite(
                zorder_layout(self.read(), zorder_by, n, curve=curve),
                op="zorder",
            )
        else:
            self.overwrite(self.read().coalesce(n), op="compact")

    def _read_files_logical(self, rels: list[str]) -> DataFrame:
        """The named live files as a LOGICAL frame: DV rows for those
        files subtracted, column mapping applied — frames handed to
        write paths are always logical (the writes map back to
        physical; mixing namespaces would mis-map chained renames)."""
        r = self._apply_read_schema(self.spark.read)
        if self.properties().get("schema_evolved"):
            r = r.option("mergeSchema", "true")
        df = r.parquet(*[os.path.join(self.path, f) for f in rels]).select(
            "*",
            F.col("_metadata.file_name").alias("__f"),
            F.col("_metadata.row_index").alias("__p"),
        )
        dvd = self._dv_dir()
        if os.path.isdir(dvd):
            dv = self.spark.read.parquet(dvd).where(
                F.col("file_name").isin(rels)
            )
            cond = (F.col("__f") == dv["file_name"]) & (
                F.col("__p") == dv["row_index"]
            )
            df = df.join(dv, cond, "left_anti")
        return self._from_physical(df).drop("__f", "__p")

    def optimize_incremental(
        self,
        zorder_by: list[str],
        target_files: int = 1,
        curve: str = "morton",
    ) -> int:
        """Incremental clustering — the liquid-clustering/LSM shape:
        z-order (or Hilbert) ONLY the files appended since the last
        layout commit (full ``compact``/``zorder``/``overwrite`` or a
        previous incremental run) into one new clustered run, leaving
        every already-clustered file byte-identical. Maintenance cost
        is O(new data) per tick instead of O(table), so it can run on
        every ingest cadence; each run is internally clustered (footer
        min/max stay tight per run — ``range_scan`` prunes within and
        across runs), and a periodic full ``compact(zorder_by=...)``
        merges runs when their count grows. Deletion vectors on the
        clustered files are materialized and retired, exactly like the
        other file-scoped rewrites. Unpartitioned tables only. Returns
        the number of files clustered (0 = nothing new)."""
        if self.partition_by:
            raise ValueError(
                "optimize_incremental requires an unpartitioned table — "
                "use compact(zorder_by=...) for partitioned tables"
            )
        if not self.exists():
            return 0
        base: set | None = None
        for rec in reversed(self.history()):
            if rec["op"] in (
                "zorder",
                "compact",
                "compact_incremental",
                "overwrite",
                "restore",
            ):
                base = set(rec["files"])
                break
        live = self._data_files()
        new = [f for f in live if base is None or f not in base]
        if len(new) < 2:
            return 0
        from data_ingestion_framework_spark.operators.zorder import (
            zorder_layout,
        )

        replacement = zorder_layout(
            self._read_files_logical(new),
            zorder_by,
            max(target_files, 1),
            curve=curve,
        )
        rec = self._replace_files(
            new,
            replacement,
            "compact_incremental",
            {"files_clustered": len(new), "zorder_by": list(zorder_by)},
        )
        self._retire_dv_for_files(new, rec["seq"])
        return len(new)

    def compact_small_files(
        self, min_bytes: int, target_files: int = 1
    ) -> int:
        """Selective ``OPTIMIZE``: bin-pack ONLY the data files smaller
        than ``min_bytes`` into ``target_files`` outputs, leaving every
        adequately-sized file byte-identical in place — Delta's
        bin-packing semantics (it too skips files already near the
        target size), executed through the file-scoped copy-on-write
        commit. The continuous-ingest maintenance shape at 100 TB:
        streaming appends produce a long tail of small files, and this
        pass costs O(small files), not O(table), so it can run on every
        maintenance tick instead of a rare full rewrite.

        Deletion vectors referencing the compacted files are
        materialized by the rewrite (the merged rows are DV-filtered)
        and retired into the commit's history snapshot, exactly like
        COW delete/update. Unpartitioned tables only (the file-scoped
        commit path's contract); partitioned tables use ``compact()``.
        Returns the number of files compacted (0 = nothing to do)."""
        if not self.exists():
            return 0
        if self.partition_by:
            raise ValueError(
                "compact_small_files requires an unpartitioned table — "
                "use compact() for partitioned tables"
            )
        small = [
            f
            for f in self._data_files()
            if os.path.getsize(os.path.join(self.path, f)) < min_bytes
        ]
        if len(small) <= max(target_files, 1):
            return 0  # merging <= target_files files is a no-op rewrite
        replacement = self._read_files_logical(small).coalesce(
            max(target_files, 1)
        )
        rec = self._replace_files(
            small,
            replacement,
            "compact_small",
            {"files_compacted": len(small), "min_bytes": min_bytes},
        )
        self._retire_dv_for_files(small, rec["seq"])
        return len(small)

    def file_column_ranges(self, col: str) -> list[tuple]:
        """Per-file (path, min, max) of ``col`` resolved from the
        COMMIT LOG's per-file stats (``file_stats``) — footers are read
        only for files the log predates. Files without usable stats
        report (path, None, None); a one-sided bound reports the side
        it has (min-only still prunes ``<= hi``). Logical column names
        resolve through the column mapping (stats are keyed by
        immortal physical names, so RENAME never staled them)."""
        if col in self._identity_partition_cols():
            # partition values live in the directory names — zero I/O
            # and exact: min == max == the partition's value. Values
            # are hive-escaped on write (URL-style %XX), so unescape
            # before the typed parse; date/timestamp dirs parse to
            # real temporals so bounds compare against typed lo/hi.
            import datetime as _dt
            import urllib.parse as _up

            def _parse(raw: str):
                raw = _up.unquote(raw)
                for conv in (
                    int,
                    float,
                    _dt.date.fromisoformat,
                    _dt.datetime.fromisoformat,
                ):
                    try:
                        return conv(raw)
                    except ValueError:
                        continue
                return raw

            out = []
            for rel in self._live_files():
                v = None
                for seg in rel.split(os.sep)[:-1]:
                    if seg.startswith(f"{col}="):
                        raw = seg[len(col) + 1 :]
                        if raw != "__HIVE_DEFAULT_PARTITION__":
                            v = _parse(raw)
                        break
                out.append((rel, v, v))
            return out
        phys = self._colmap().get(col, col)
        out = []
        for rel, st in sorted(self.file_stats().items()):
            ent = (st.get("cols") or {}).get(phys)
            if ent is None:
                out.append((rel, None, None))  # evolution / no stats
            else:
                out.append(
                    (rel, self._dec_stat(ent["min"]), self._dec_stat(ent["max"]))
                )
        return out

    def range_scan(self, col: str, lo=None, hi=None) -> DataFrame:
        """Explicit min/max FILE skipping for a range predicate — the
        payoff of z-order/Hilbert clustering made observable: only
        files whose footer [min, max] intersects [lo, hi] are opened
        (files without stats are conservatively kept — sound, never a
        false negative), then the exact predicate applies row-level.
        Spark's own row-group pruning still applies inside the kept
        files; this skips whole files at the DRIVER, which at 100 TB
        also skips their listing/footer I/O on the scan side."""
        ranges = self.file_column_ranges(col)

        def _outside(mn, mx) -> bool:
            # skip only on an affirmative non-overlap; missing bounds
            # are conservative, and so is a bound whose type doesn't
            # compare against lo/hi (e.g. a string partition value vs
            # a typed bound) — never a false negative
            try:
                return (hi is not None and mn is not None and mn > hi) or (
                    lo is not None and mx is not None and mx < lo
                )
            except TypeError:
                return False

        keep = [rel for rel, mn, mx in ranges if not _outside(mn, mx)]
        pred = F.lit(True)
        if lo is not None:
            pred = pred & (F.col(col) >= F.lit(lo))
        if hi is not None:
            pred = pred & (F.col(col) <= F.lit(hi))
        if not keep:
            return self.read().where(F.lit(False))
        df = self._scan_files(keep)
        if os.path.isdir(self._dv_dir()):
            df = self._subtract_dv(df, [self._dv_dir()])
        return self._from_physical(df).where(pred)

    def count_rows(self) -> int:
        """Metadata-only ``COUNT(*)`` — parquet footer row counts minus
        live deletion-vector rows, zero data bytes read (Delta answers
        bare ``SELECT COUNT(*)`` from its log statistics the same way;
        at 100 TB this is the difference between milliseconds and a
        full scan). Exact by construction: every commit path either
        rewrites whole files (footers authoritative) or stacks
        deletion vectors (each a live (file, position) pair counted
        once — ``delete_where_dv`` anti-joins existing vectors, so no
        pair is ever recorded twice). Row counts come from the commit
        log's per-file stats (``file_stats``): zero footer I/O for any
        file the log covers."""
        n = sum(s["rows"] for s in self.file_stats().values())
        dvd = self._dv_dir()
        if os.path.isdir(dvd):
            n -= self._footer_rows(
                [os.path.join(dvd, f) for f in self._data_files(dvd)]
            )
        return n

    def file_count(self) -> int:
        return len(self._data_files())

    def column_min_max(self, col: str) -> tuple:
        """Metadata-only ``MIN(col), MAX(col)`` — the other query Delta
        answers straight from log statistics. Exact when every live
        file has logged bounds for the column and no deletion vectors
        exist; otherwise falls back to one exact aggregate scan (a DV
        row could hold the extreme, and a stat-less file could hide
        it — soundness over speed, never a wrong answer). NULL-only
        tables return (None, None) either way."""
        dvd = self._dv_dir()
        stats = None if os.path.isdir(dvd) else self.file_stats()
        if stats is not None:
            phys = self._colmap().get(col, col)
            mins: list = []
            maxs: list = []
            ok = bool(stats)
            for st in stats.values():
                ent = (st.get("cols") or {}).get(phys)
                if (
                    ent is None
                    or ent["min"] is None
                    or ent["max"] is None
                    or ent.get("minTrunc")
                ):
                    # missing, codec-dropped, or TRUNCATED bounds: the
                    # true extreme could differ from the logged one —
                    # only the exact scan is sound
                    ok = False
                    break
                mins.append(self._dec_stat(ent["min"]))
                maxs.append(self._dec_stat(ent["max"]))
            if ok and mins:
                return (min(mins), max(maxs))
            if ok and not mins:
                return (None, None)
        row = self.read().agg(
            F.min(col).alias("mn"), F.max(col).alias("mx")
        ).collect()[0]
        return (row["mn"], row["mx"])

    def orphan_files(self, grace_seconds: float = 3600.0) -> list[str]:
        """Data files on disk that NO commit record references — the
        leftovers of a writer that crashed mid-write (Spark wrote part
        files, the commit record never landed). They are invisible to
        nothing in this store (reads are directory scans), so flagging
        them is an FSCK, not a formality. ``grace_seconds`` keeps an
        IN-FLIGHT writer's files off the list (Delta's VACUUM retention
        serves the same race)."""
        referenced: set = set()
        for rec in self.history():
            referenced.update(rec.get("files") or [])
        now = time.time()
        out = []
        for rel in self._data_files():
            if rel in referenced:
                continue
            try:
                age = now - os.path.getmtime(os.path.join(self.path, rel))
            except OSError:
                continue
            if age >= grace_seconds:
                out.append(rel)
        return sorted(out)

    def remove_orphan_files(self, grace_seconds: float = 3600.0) -> int:
        """Delete ``orphan_files`` and record the repair as a commit."""
        doomed = self.orphan_files(grace_seconds)
        for rel in doomed:
            try:
                os.unlink(os.path.join(self.path, rel))
            except OSError:
                pass
        if doomed:
            self._record_commit(
                "fsck_remove_orphans", {"files_removed": len(doomed)}, new_files=[]
            )
        return len(doomed)

    # -- COPY INTO (idempotent file-level ingestion) --------------------------

    def copied_files(self) -> set[str]:
        """The cumulative COPY INTO ledger: absolute source paths this
        table has already ingested. Folded from the log WITHOUT a full
        replay — each ``copy_into`` commit records the whole cumulative
        ledger in its metrics, so the fold walks records newest→oldest
        only until it meets one (O(commits since the last COPY INTO),
        like the stats checkpoint fold)."""
        for name in reversed(self._record_names()):
            with open(os.path.join(self._log_dir(), name)) as f:
                rec = json.load(f)
            led = rec.get("metrics", {}).get("copy_into_ledger")
            if led is not None:
                return set(led)
        return set()

    def copy_into(
        self,
        source_dir: str,
        fmt: str = "parquet",
        pattern: str | None = None,
        force: bool = False,
        reader_options: dict | None = None,
        merge_schema: bool = False,
    ) -> dict:
        """Idempotent incremental file ingestion — Delta's ``COPY INTO``
        (the reference's landing→raw loads re-list the landing dir per
        run and rely on Auto Loader / file-name tracking for
        exactly-once, readers/streaming_readers.py cloudFiles; this is the
        batch-SQL equivalent). Every call lists ``source_dir``
        recursively, subtracts the files already in the ledger, appends
        only the new ones, and commits the updated cumulative ledger
        with the data — so re-running a load after a crash, a
        scheduler double-fire, or a partial upstream refresh never
        duplicates rows. ``force=True`` is ``COPY INTO ... FORCE``:
        reload everything matching, duplicates and all (the ledger
        still advances). Ledger identity is the absolute file path,
        matching Delta (a changed file under the same name is NOT
        re-loaded without ``force``).

        Scale note: control-plane work is one directory walk + one
        ledger read; data-plane work is one Spark read of ONLY the new
        files (no re-scan of already-loaded data)."""
        import fnmatch

        candidates = []
        for root, _dirs, names in os.walk(source_dir):
            for n in sorted(names):
                if n.startswith(("_", ".")):
                    continue
                if pattern and not fnmatch.fnmatch(n, pattern):
                    continue
                candidates.append(os.path.abspath(os.path.join(root, n)))
        candidates.sort()
        ledger = self.copied_files()
        todo = [f for f in candidates if force or f not in ledger]
        if not todo:
            return {"files_loaded": 0, "rows_loaded": 0, "files_skipped": len(candidates)}
        reader = self.spark.read.format(fmt)
        for k, v in (reader_options or {}).items():
            reader = reader.option(k, v)
        df = reader.load(todo)
        self.append(
            df,
            metrics={
                "copy_into_files": todo,
                "copy_into_ledger": sorted(ledger | set(candidates)),
                "copy_into_source": os.path.abspath(source_dir),
                "copy_into_forced": bool(force),
            },
            merge_schema=merge_schema,
        )
        rec = self._latest_record() or {}
        return {
            "files_loaded": len(todo),
            "rows_loaded": rec.get("rows_written"),
            "files_skipped": len(candidates) - len(todo),
        }

    def optimize(
        self,
        target_files: int | None = None,
        zorder_by: list[str] | None = None,
        bloom_columns: tuple[str, ...] = (),
        vacuum: bool = False,
    ) -> None:
        """One-call table maintenance — the full ``OPTIMIZE`` pass a
        scheduler runs (the reference fires its OPTIMIZE every 101st
        streaming micro-batch, writers/writer.py:276-281): bin-pack or
        z-order the files, rebuild the per-file Bloom sidecars the
        rewrite just invalidated (their staleness guard would
        otherwise refuse lookups), and optionally vacuum the retained
        pre-rewrite history. Ordering matters and is fixed here so
        callers can't rebuild an index against pre-compaction files."""
        if not self.exists():
            # match compact()'s early-return contract — maintenance on
            # a not-yet-created table is a no-op, not an AnalysisException
            # from build_bloom_index's read()
            return
        self.compact(target_files, zorder_by)
        for c in bloom_columns:
            self.build_bloom_index(c)
        if vacuum:
            self.vacuum()

    def analyze(
        self, columns: list[str] | None = None, exact: bool = True
    ) -> dict:
        """``ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS`` parity:
        one aggregate pass computes per-column row/null/distinct counts
        and min/max (``operators.dq.column_stats``), persists them in
        the table properties under ``stats`` (the TBLPROPERTIES
        analogue of a catalog's statistics store, stamped with the
        commit seq they describe), and records an ``analyze`` commit.
        Readers (or a cost-based planner) consult ``properties()
        ["stats"]``; a stored ``analyzed_seq`` older than the latest
        DATA commit (the analyze marker itself doesn't count) marks
        them stale. ``exact=False`` switches distinct counts to the
        HLL sketch — the 100 TB default."""
        from data_ingestion_framework_spark.operators.dq import column_stats

        if not self.exists():
            return {}
        rows = column_stats(self.read(), columns, exact=exact).collect()
        stats = {
            r["column"]: {
                "n_rows": r["n_rows"],
                "n_nulls": r["n_nulls"],
                "n_distinct": r["n_distinct"],
                "min": r["min_value"],
                "max": r["max_value"],
            }
            for r in rows
        }
        seq = self._next_seq() - 1
        self.set_properties({"stats": stats, "analyzed_seq": seq})
        self._record_commit(
            "analyze",
            {"columns": sorted(stats), "exact": exact, "analyzed_seq": seq},
            new_files=[],
        )
        return stats

    # -- per-file Bloom index (point-lookup file skipping) -----------------

    def _bloom_index_path(self, col: str) -> str:
        return os.path.join(self.path, "_bloom_index", col)

    def build_bloom_index(self, col: str, m_bits: int = 1 << 16, k: int = 4) -> None:
        """Build a per-FILE Bloom filter over ``col`` — the companion
        to z-order's min/max range skipping for equality lookups
        (Delta's ``delta.bloomFilter`` / Iceberg bloom write-property
        parity, re-derived on plain parquet).

        Fully distributed: each value sets ``k`` bit positions
        ``xxhash64(i, value) & (m-1)``; positions fold into sparse
        ``(word, bits)`` pairs per file via a ``bit_or`` aggregate —
        the index table is O(files × set-bits), never the data. Stored
        as a parquet sidecar under ``_bloom_index/<col>`` keyed by
        file path, rebuilt on demand after rewrites (the sidecar
        records the commit seq it indexed; ``lookup_files`` refuses a
        stale index rather than silently missing rows)."""
        if m_bits & (m_bits - 1):
            raise ValueError("m_bits must be a power of two")
        r = self.spark.read
        if self.properties().get("schema_evolved"):
            r = r.option("mergeSchema", "true")
        # raw scan (not read()): _metadata only resolves on the scan
        # frame, before any column-mapping or DV projection. DV'd rows'
        # values may set extra bits — false positives only, which Bloom
        # lookups tolerate by contract.
        base = self._from_physical(
            r.parquet(self.path).select(
                F.col("_metadata.file_path").alias("__file"), "*"
            )
        )
        df = base.select(
            "__file", F.col(col).cast("string").alias("__v")
        )
        pos = F.array(
            *[
                F.xxhash64(F.lit(i), F.col("__v")).bitwiseAND(F.lit(m_bits - 1))
                for i in range(k)
            ]
        )
        index = (
            df.select("__file", F.explode(pos).alias("__p"))
            .select(
                "__file",
                F.shiftright("__p", 6).cast("int").alias("__w"),
                F.call_function(
                    "shiftleft",
                    F.lit(1).cast("bigint"),
                    F.col("__p").bitwiseAND(F.lit(63)).cast("int"),
                ).alias("__m"),
            )
            .groupBy("__file", "__w")
            .agg(F.bit_or("__m").alias("__bits"))
            .groupBy("__file")
            .agg(
                F.sort_array(
                    F.collect_list(F.struct(F.col("__w"), F.col("__bits")))
                ).alias("sparse")
            )
            .select(
                F.col("__file").alias("file"),
                "sparse",
                F.lit(m_bits).alias("m_bits"),
                F.lit(k).alias("k"),
                F.lit(self._next_seq() - 1).alias("indexed_seq"),
            )
        )
        out = self._bloom_index_path(col)
        shutil.rmtree(out, ignore_errors=True)
        index.write.mode("overwrite").parquet(out)

    def lookup_files(self, col: str, value, strict: bool = True) -> list[str]:
        """Candidate data files that MAY contain ``col == value``,
        per the Bloom sidecar — no false negatives, false positives at
        the classic rate. Raises if the index predates the latest
        commit (stale skipping would silently drop rows); with
        ``strict=False`` a stale/empty-built index instead degrades to
        the FULL current file list with a warning — sound (no file is
        skipped), just unpruned, for callers that prefer a slow lookup
        over a maintenance-window error."""
        import warnings

        idx_path = self._bloom_index_path(col)
        if not os.path.isdir(idx_path):
            raise ValueError(f"no bloom index for column {col!r} — build_bloom_index first")

        def _degrade(reason: str) -> list[str]:
            warnings.warn(
                f"bloom index for {col!r} {reason} — returning the "
                "full file list (no pruning); rebuild the index",
                stacklevel=3,
            )
            return [
                os.path.join(self.path, f) for f in self._data_files()
            ]

        idx = self.spark.read.parquet(idx_path)
        meta = idx.select("m_bits", "k", "indexed_seq").first()
        if meta is None:
            # a table that was EMPTY at index time writes an empty
            # sidecar with no seq to check — sound only while the
            # table is still empty
            if self.read().limit(1).count() == 0:
                return []
            if not strict:
                return _degrade("was built on an empty table that has since gained rows")
            raise ValueError(
                f"bloom index for {col!r} was built on an empty table "
                "that has since gained rows — rebuild"
            )
        if meta["indexed_seq"] != self._next_seq() - 1:
            if not strict:
                return _degrade(
                    f"is stale (indexed commit {meta['indexed_seq']}, "
                    f"table at {self._next_seq() - 1})"
                )
            raise ValueError(
                f"bloom index for {col!r} is stale (indexed commit "
                f"{meta['indexed_seq']}, table at {self._next_seq() - 1}) — rebuild"
            )
        m_bits, k = meta["m_bits"], meta["k"]
        # Spark's own cast-to-string of a literal — NOT Python str() —
        # so the probe formats numerics exactly like the build side's
        # column cast (str(1e20)='1e+20' vs Spark '1.0E20' would
        # silently prune every file holding the value)
        v = F.lit(value).cast("string")
        cond = F.lit(True)
        for i in range(k):
            p = F.xxhash64(F.lit(i), v).bitwiseAND(F.lit(m_bits - 1))
            word = F.shiftright(p, 6).cast("int")
            bit = F.call_function(
                "shiftleft",
                F.lit(1).cast("bigint"),
                p.bitwiseAND(F.lit(63)).cast("int"),
            )
            hit = F.size(
                F.filter(
                    F.col("sparse"),
                    lambda s: (s["__w"] == word) & (s["__bits"].bitwiseAND(bit) != 0),
                )
            ) > 0
            cond = cond & hit
        return [r["file"] for r in idx.where(cond).select("file").collect()]

    def point_lookup(self, col: str, value) -> DataFrame:
        """Equality scan through the Bloom index: read ONLY the
        candidate files, then apply the exact predicate. At 100 TB a
        point lookup touches a handful of files instead of the table;
        the exact filter kills the false-positive residue."""
        files = self.lookup_files(col, value)
        if not files:
            return self.read().where(F.lit(False))
        # _scan_files recovers partition columns from the candidate
        # file paths (basePath) — without it a leaf-file read would
        # silently drop them (schema drift vs read(); a bloom index ON
        # a partition column would fail the exact filter below).
        # Sidecar entries built from _metadata.file_path are file: URIs
        # while the degrade branch yields plain paths — normalize both
        # before deriving table-relative names.
        rels = []
        for p in files:
            if p.startswith("file:"):
                p = "/" + p[5:].lstrip("/")
            rels.append(os.path.relpath(p, self.path))
        return self._scan_files(rels).where(F.col(col) == F.lit(value))

    def drop(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
