"""Delta-style SQL statement surface over the path-backed table store.

The reference drives its lakehouse through SQL statements (``MERGE
INTO`` emission at writers/writer.py:177-692, ``DESCRIBE HISTORY`` at
di_landing_to_raw_generic_v2.py:813-891, ``VACUUM``/``OPTIMIZE``
maintenance); a user switching from it expects to keep typing SQL. This
module maps the Delta statement grammar onto :class:`ParquetTable`
methods, so operational SQL runs against the store verbatim:

    execute_statement(spark, "DELETE FROM t WHERE o_orderkey % 5 = 0",
                      tables={"t": table})
    execute_statement(spark, "OPTIMIZE t ZORDER BY (a, b)", tables=...)
    execute_statement(spark, "SELECT * FROM t VERSION AS OF 3", ...)

Supported statements (the operational subset — DML, maintenance,
metadata; analytical SELECTs pass through to Spark SQL with the store's
tables registered as views and time-travel clauses rewritten):

- ``DELETE FROM t [WHERE pred]``
- ``UPDATE t SET a = expr[, ...] [WHERE pred]``
- ``INSERT INTO t SELECT ...`` / ``INSERT OVERWRITE t SELECT ...``
- ``TRUNCATE TABLE t``
- ``OPTIMIZE t [ZORDER BY (a, b)]``
- ``VACUUM t [RETAIN n COMMITS] [DRY RUN]``
- ``RESTORE [TABLE] t TO VERSION AS OF n``
- ``COPY INTO t FROM 'dir' [FILEFORMAT = fmt] [PATTERN = 'glob'] [FORCE]``
- ``ALTER TABLE t RENAME COLUMN a TO b`` / ``DROP COLUMN a`` /
  ``ADD CONSTRAINT name CHECK (expr)`` / ``DROP CONSTRAINT name`` /
  ``SET TBLPROPERTIES (k = v, ...)`` / ``SET PARTITION SPEC (a, b)``
- ``MERGE INTO t USING src|(SELECT ...) ON target.k = source.k [AND ...]
  WHEN MATCHED [AND c] THEN UPDATE SET a = expr, ... | DELETE
  WHEN NOT MATCHED [AND c] THEN INSERT *
  WHEN NOT MATCHED BY SOURCE [AND c] THEN UPDATE SET ... | DELETE``
  (target columns by plain name, source columns as ``source.<col>``)
- ``ANALYZE TABLE t COMPUTE STATISTICS [FOR COLUMNS a, b]``
- ``FSCK REPAIR TABLE t [DRY RUN]``
- ``DESCRIBE HISTORY t`` / ``DESCRIBE DETAIL t``
- ``SELECT ... FROM t [VERSION AS OF n | TIMESTAMP AS OF 'ts'] ...``

Expressions (predicates, SET right-hand sides, CHECK bodies) are Spark
SQL, compiled with ``F.expr`` — no Python eval. This is a statement
DISPATCHER over a controlled grammar, not a SQL parser: anything it
does not recognize raises loudly instead of half-running.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestion_framework_spark.session import local_frame
from data_ingestion_framework_spark.sources.tablestore import ParquetTable

_WS = r"\s+"


def _split_top_level(s: str, sep: str = ",") -> list[str]:
    """Split on ``sep`` at paren/quote depth 0 (SET a = f(x, y), b = 2)."""
    out, depth, cur, quote = [], 0, [], None
    for ch in s:
        if quote:
            cur.append(ch)
            if ch == quote:
                quote = None
            continue
        if ch in "'\"":
            quote = ch
            cur.append(ch)
        elif ch == "(":
            depth += 1
            cur.append(ch)
        elif ch == ")":
            depth -= 1
            cur.append(ch)
        elif ch == sep and depth == 0:
            out.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur).strip())
    return [p for p in out if p]


def _resolve(
    spark: SparkSession, token: str, tables: dict[str, ParquetTable]
) -> ParquetTable:
    """A table reference is a registered name, a backtick-quoted path,
    or a single-quoted path."""
    token = token.strip()
    if token.startswith("`") and token.endswith("`"):
        return ParquetTable(spark, token[1:-1])
    if token.startswith("'") and token.endswith("'"):
        return ParquetTable(spark, token[1:-1])
    if token in tables:
        return tables[token]
    raise ValueError(
        f"unknown table {token!r} — pass it in tables= or quote a path"
    )


_TBL = r"(`[^`]+`|'[^']+'|[A-Za-z_][A-Za-z0-9_.]*)"


def _parse_default_literal(raw: str):
    """DEFAULT literal → Python value (quoted string, bool, NULL, or
    number) — the controlled-grammar subset, no expression eval. Quoted
    strings must carry a matching closing quote, and doubled quotes are
    the SQL escape (``'it''s'`` → ``it's``); anything unterminated or
    with trailing junk raises instead of silently mis-parsing."""
    raw = raw.strip()
    if raw.startswith(("'", '"')):
        q = raw[0]
        body = rf"(?:[^{q}]|{q}{q})*"
        if not re.fullmatch(f"{q}{body}{q}", raw, re.S):
            raise ValueError(
                f"malformed DEFAULT string literal {raw!r} — expected a "
                f"matching closing {q} (escape an embedded quote by "
                "doubling it)"
            )
        return raw[1:-1].replace(q + q, q)
    if raw.lower() in ("true", "false"):
        return raw.lower() == "true"
    if raw.lower() == "null":
        return None
    try:
        return float(raw) if "." in raw or "e" in raw.lower() else int(raw)
    except ValueError:
        raise ValueError(
            f"malformed DEFAULT literal {raw!r} — expected a quoted "
            "string, TRUE/FALSE, NULL, or a number"
        ) from None


def execute_statement(
    spark: SparkSession,
    sql: str,
    tables: dict[str, ParquetTable] | None = None,
):
    """Run one statement. Returns a DataFrame for queries/DESCRIBE, a
    metrics dict for DML/maintenance, None for pure DDL."""
    tables = tables or {}
    s = sql.strip().rstrip(";").strip()

    m = re.match(rf"DELETE{_WS}FROM{_WS}{_TBL}({_WS}WHERE{_WS}(.*))?$", s, re.I | re.S)
    if m:
        t = _resolve(spark, m.group(1), tables)
        pred = F.expr(m.group(3)) if m.group(3) else F.lit(True)
        return {"rows_deleted": t.delete_where(pred)}

    m = re.match(
        rf"UPDATE{_WS}{_TBL}{_WS}SET{_WS}(.*?)({_WS}WHERE{_WS}(.*))?$", s, re.I | re.S
    )
    if m:
        t = _resolve(spark, m.group(1), tables)
        assignments = {}
        for part in _split_top_level(m.group(2)):
            col, expr = part.split("=", 1)
            assignments[col.strip().strip("`")] = F.expr(expr.strip())
        pred = F.expr(m.group(4)) if m.group(4) else None
        return {"rows_updated": t.update_where(assignments, pred)}

    m = re.match(
        rf"MERGE{_WS}INTO{_WS}{_TBL}{_WS}USING{_WS}(\(.*?\)|\S+){_WS}ON{_WS}(.*)$",
        s,
        re.I | re.S,
    )
    if m:
        return _execute_merge(spark, m, tables)

    m = re.match(
        rf"CREATE{_WS}TABLE{_WS}{_TBL}({_WS}PARTITIONED{_WS}BY{_WS}\(([^)]*)\))?"
        rf"{_WS}AS{_WS}(SELECT\b.*)$",
        s,
        re.I | re.S,
    )
    if m:
        # CTAS: the table reference must be a quoted PATH (a fresh
        # table has no registry entry yet) or an already-passed handle
        t = _resolve(spark, m.group(1), tables)
        if t.exists():
            raise ValueError("CREATE TABLE AS: target already exists")
        if m.group(3):
            t.partition_by = [
                c.strip().strip("`") for c in m.group(3).split(",") if c.strip()
            ]
            t.set_properties({"partition_spec": t.partition_by})
        batch = execute_statement(spark, m.group(4), tables)
        t.overwrite(batch, op="create")
        return {"rows_written": t.history()[-1]["rows_written"]}

    m = re.match(rf"INSERT{_WS}(INTO|OVERWRITE){_WS}{_TBL}{_WS}(SELECT\b.*)$", s, re.I | re.S)
    if m:
        t = _resolve(spark, m.group(2), tables)
        batch = execute_statement(spark, m.group(3), tables)
        if m.group(1).upper() == "INTO":
            t.append(batch)
        else:
            t.overwrite(batch)
        return {"rows_written": t.history()[-1]["rows_written"]}

    m = re.match(rf"TRUNCATE{_WS}TABLE{_WS}{_TBL}$", s, re.I)
    if m:
        t = _resolve(spark, m.group(1), tables)
        return {"rows_deleted": t.delete_where(F.lit(True))}

    m = re.match(rf"OPTIMIZE{_WS}{_TBL}({_WS}ZORDER{_WS}BY{_WS}\(([^)]*)\))?$", s, re.I)
    if m:
        t = _resolve(spark, m.group(1), tables)
        zorder = (
            [c.strip().strip("`") for c in m.group(3).split(",")]
            if m.group(3)
            else None
        )
        t.optimize(zorder_by=zorder)
        return {"optimized": True, "zorder_by": zorder}

    m = re.match(
        rf"VACUUM{_WS}{_TBL}({_WS}RETAIN{_WS}(\d+){_WS}COMMITS)?({_WS}DRY{_WS}RUN)?$",
        s,
        re.I,
    )
    if m:
        t = _resolve(spark, m.group(1), tables)
        retain = int(m.group(3)) if m.group(3) else None
        if m.group(4):
            return {"dry_run": True, "candidates": t.vacuum_candidates(retain)}
        return {"snapshots_removed": t.vacuum(retain)}

    m = re.match(
        rf"RESTORE{_WS}(TABLE{_WS})?{_TBL}{_WS}TO{_WS}VERSION{_WS}AS{_WS}OF{_WS}(\d+)$",
        s,
        re.I,
    )
    if m:
        t = _resolve(spark, m.group(2), tables)
        t.restore(int(m.group(3)))
        return {"restored_to": int(m.group(3))}

    m = re.match(
        rf"COPY{_WS}INTO{_WS}{_TBL}{_WS}FROM{_WS}'([^']+)'"
        rf"({_WS}FILEFORMAT{_WS}?={_WS}?([A-Za-z]+))?"
        rf"({_WS}PATTERN{_WS}?={_WS}?'([^']+)')?"
        rf"({_WS}FORCE)?$",
        s,
        re.I,
    )
    if m:
        t = _resolve(spark, m.group(1), tables)
        return t.copy_into(
            m.group(2),
            fmt=(m.group(4) or "parquet").lower(),
            pattern=m.group(6),
            force=bool(m.group(7)),
        )

    m = re.match(rf"ALTER{_WS}TABLE{_WS}{_TBL}{_WS}(.*)$", s, re.I | re.S)
    if m:
        t = _resolve(spark, m.group(1), tables)
        rest = m.group(2).strip()
        mm = re.match(rf"RENAME{_WS}COLUMN{_WS}(\S+){_WS}TO{_WS}(\S+)$", rest, re.I)
        if mm:
            t.rename_column(mm.group(1).strip("`"), mm.group(2).strip("`"))
            return None
        mm = re.match(rf"DROP{_WS}COLUMN{_WS}(\S+)$", rest, re.I)
        if mm:
            t.drop_column(mm.group(1).strip("`"))
            return None
        mm = re.match(
            rf"ALTER{_WS}COLUMN{_WS}(\S+){_WS}SET{_WS}MASK{_WS}?\((.*)\)$",
            rest,
            re.I | re.S,
        )
        if mm:
            t.set_column_mask(mm.group(1).strip("`"), mm.group(2))
            return None
        mm = re.match(
            rf"ALTER{_WS}COLUMN{_WS}(\S+){_WS}DROP{_WS}MASK$", rest, re.I
        )
        if mm:
            t.drop_column_mask(mm.group(1).strip("`"))
            return None
        mm = re.match(
            rf"SET{_WS}ROW{_WS}FILTER{_WS}?\((.*)\)$", rest, re.I | re.S
        )
        if mm:
            t.set_row_filter(mm.group(1))
            return None
        mm = re.match(rf"DROP{_WS}ROW{_WS}FILTER$", rest, re.I)
        if mm:
            t.drop_row_filter()
            return None
        mm = re.match(
            rf"ALTER{_WS}COLUMN{_WS}(\S+){_WS}DROP{_WS}DEFAULT$", rest, re.I
        )
        if mm:
            t.drop_column_default(mm.group(1).strip("`"))
            return None
        mm = re.match(
            rf"ALTER{_WS}COLUMN{_WS}(\S+){_WS}SET{_WS}DEFAULT{_WS}(.+)$",
            rest,
            re.I | re.S,
        )
        if mm:
            t.set_column_default(
                mm.group(1).strip("`"), _parse_default_literal(mm.group(2))
            )
            return None
        mm = re.match(
            rf"ADD{_WS}COLUMN{_WS}(\S+){_WS}(\w+(?:\([\d\s,]*\))?)"
            rf"({_WS}DEFAULT{_WS}(.+))?$",
            rest,
            re.I | re.S,
        )
        if mm:
            default = (
                _parse_default_literal(mm.group(4))
                if mm.group(4) is not None
                else None
            )
            t.add_column(mm.group(1).strip("`"), mm.group(2), default=default)
            return None
        mm = re.match(
            rf"ADD{_WS}CONSTRAINT{_WS}(\S+){_WS}CHECK{_WS}?\((.*)\)$", rest, re.I | re.S
        )
        if mm:
            t.add_check_constraint(mm.group(1), mm.group(2))
            return None
        mm = re.match(rf"DROP{_WS}CONSTRAINT{_WS}(\S+)$", rest, re.I)
        if mm:
            t.drop_check_constraint(mm.group(1))
            return None
        mm = re.match(rf"SET{_WS}PARTITION{_WS}SPEC{_WS}?\(([^)]*)\)$", rest, re.I)
        if mm:
            cols = [c.strip().strip("`") for c in mm.group(1).split(",") if c.strip()]
            t.evolve_partition_spec(cols)
            return None
        mm = re.match(rf"SET{_WS}TBLPROPERTIES{_WS}?\((.*)\)$", rest, re.I | re.S)
        if mm:
            props = {}
            for part in _split_top_level(mm.group(1)):
                k, v = part.split("=", 1)
                v = v.strip().strip("'\"")
                props[k.strip().strip("'\"")] = (
                    {"true": True, "false": False}.get(v.lower(), v)
                )
            t.set_properties(props)
            return None
        raise ValueError(f"unsupported ALTER TABLE clause: {rest!r}")

    m = re.match(
        rf"ANALYZE{_WS}TABLE{_WS}{_TBL}{_WS}COMPUTE{_WS}STATISTICS"
        rf"({_WS}FOR{_WS}COLUMNS{_WS}(.+))?$",
        s,
        re.I,
    )
    if m:
        t = _resolve(spark, m.group(1), tables)
        cols = (
            [c.strip().strip("`") for c in m.group(3).split(",")]
            if m.group(3)
            else None
        )
        return t.analyze(columns=cols)

    m = re.match(rf"FSCK{_WS}REPAIR{_WS}TABLE{_WS}{_TBL}({_WS}DRY{_WS}RUN)?$", s, re.I)
    if m:
        t = _resolve(spark, m.group(1), tables)
        if m.group(2):
            return {"dry_run": True, "orphans": t.orphan_files(grace_seconds=0)}
        return {"orphans_removed": t.remove_orphan_files(grace_seconds=0)}

    m = re.match(rf"DESCRIBE{_WS}HISTORY{_WS}{_TBL}$", s, re.I)
    if m:
        t = _resolve(spark, m.group(1), tables)
        rows = [
            {
                "version": r["seq"],
                "timestamp": float(r["ts"]),
                "operation": r["op"],
                "rows_written": r["rows_written"],
            }
            for r in t.history()
        ]
        return local_frame(
            spark,
            rows, "version long, timestamp double, operation string, rows_written long"
        )

    m = re.match(rf"DESCRIBE{_WS}DETAIL{_WS}{_TBL}$", s, re.I)
    if m:
        t = _resolve(spark, m.group(1), tables)
        d = t.detail()
        return local_frame(
            spark,
            [{k: str(v) for k, v in d.items()}],
            ", ".join(f"`{k}` string" for k in sorted(d)),
        )

    if re.match(r"SELECT\b|WITH\b", s, re.I):
        # register every handed-in table as a view; rewrite time-travel
        # clauses to views over as_of frames
        for name, t in tables.items():
            df = t.read()
            for mm in re.finditer(
                rf"\b{re.escape(name)}{_WS}VERSION{_WS}AS{_WS}OF{_WS}(\d+)", s, re.I
            ):
                seq = int(mm.group(1))
                vname = f"{name}__v{seq}"
                t.as_of(seq).createOrReplaceTempView(vname)
                s = re.sub(
                    rf"\b{re.escape(name)}{_WS}VERSION{_WS}AS{_WS}OF{_WS}{seq}\b",
                    vname,
                    s,
                    flags=re.I,
                )
            for mm in re.finditer(
                rf"\b{re.escape(name)}{_WS}TIMESTAMP{_WS}AS{_WS}OF{_WS}'([^']+)'", s, re.I
            ):
                raw = mm.group(1)
                vname = f"{name}__t{abs(hash(raw)) % 10**8}"
                import datetime as _dt

                ts = _dt.datetime.fromisoformat(raw).timestamp()
                t.as_of_timestamp(ts).createOrReplaceTempView(vname)
                s = re.sub(
                    rf"\b{re.escape(name)}{_WS}TIMESTAMP{_WS}AS{_WS}OF{_WS}'{re.escape(raw)}'",
                    vname,
                    s,
                    flags=re.I,
                )
            df.createOrReplaceTempView(name)
        return spark.sql(s)

    raise ValueError(f"unsupported statement: {sql!r}")


def _execute_merge(spark, m, tables):
    """``MERGE INTO t USING src ON target.k = source.k [AND ...]
    WHEN [NOT] MATCHED [BY SOURCE] [AND cond] THEN ...`` — parsed onto
    the generic :func:`sinks.writers.merge_into` executor.

    Grammar contract (mirrors the executor's expression namespace):
    the ON clause is a conjunction of ``target.<k> = source.<k>``
    equalities; WHEN MATCHED / NOT MATCHED BY SOURCE expressions
    reference target columns by PLAIN name and source columns as
    ``source.<col>``; WHEN NOT MATCHED conditions see the source
    columns by plain name. ``INSERT *`` is the supported insert form
    (Delta's schema-aligned insert)."""
    from data_ingestion_framework_spark.sinks.writers import merge_into

    t = _resolve(spark, m.group(1), tables)
    src_token = m.group(2).strip()
    if src_token.startswith("("):
        source = spark.sql(src_token[1:-1])
    elif src_token in tables:
        source = tables[src_token].read()
    else:
        source = spark.table(src_token)
    rest = m.group(3)
    # split the ON condition from the WHEN clause list
    parts = re.split(
        rf"\bWHEN{_WS}(NOT{_WS})?MATCHED((?:{_WS}BY{_WS}SOURCE)?)\b",
        rest,
        flags=re.I,
    )
    on_sql = parts[0].strip()
    key_cols = []
    for eq in re.split(rf"{_WS}AND{_WS}", on_sql, flags=re.I):
        mm = re.match(
            r"\s*(?:target\.(\w+)\s*=\s*source\.(\w+)|source\.(\w+)\s*=\s*target\.(\w+))\s*$",
            eq,
            re.I,
        )
        if not mm or (mm.group(1) or mm.group(4)) != (mm.group(2) or mm.group(3)):
            raise ValueError(
                "MERGE ON must be a conjunction of target.<k> = source.<k> "
                f"equalities on the same column name, got {eq.strip()!r}"
            )
        key_cols.append(mm.group(1) or mm.group(4))
    kwargs = {}

    def _expr(text: str, clause: str):
        # the executor's joined frame carries source columns as
        # __src_<col> (merge_source); NOT MATCHED insert conditions
        # evaluate over the source frame's PLAIN column names
        if clause == "insert":
            text = re.sub(r"\bsource\.(\w+)", r"\1", text)
        else:
            text = re.sub(r"\bsource\.(\w+)", r"__src_\1", text)
        return F.expr(re.sub(r"\btarget\.(\w+)", r"\1", text))

    # parts: [on, (not1, bysrc1, body1), (not2, ...), ...] flattened
    clause_chunks = [
        (parts[i], parts[i + 1], parts[i + 2])
        for i in range(1, len(parts) - 2, 3)
    ]
    for is_not, by_source, body in clause_chunks:
        body = body.strip()
        clause = (
            "insert"
            if (is_not and not by_source.strip())
            else ("nmbs" if by_source.strip() else "matched")
        )
        mm = re.match(rf"(AND{_WS}(.*?)){_WS}THEN{_WS}(.*)$", body, re.I | re.S)
        if mm:
            cond, action = _expr(mm.group(2), clause), mm.group(3).strip()
        else:
            mm = re.match(rf"THEN{_WS}(.*)$", body, re.I | re.S)
            if not mm:
                raise ValueError(f"unparseable MERGE clause: {body!r}")
            cond, action = None, mm.group(1).strip()
        act_u = action.upper()
        if is_not and not by_source.strip():
            if act_u.replace(" ", "") not in ("INSERT*",):
                raise ValueError(
                    "WHEN NOT MATCHED supports INSERT * only, got "
                    f"{action!r}"
                )
            kwargs["when_not_matched_insert"] = True
            if cond is not None:
                kwargs["when_not_matched_insert_condition"] = cond
            continue
        assigns = None
        if act_u.startswith("UPDATE"):
            set_part = re.match(rf"UPDATE{_WS}SET{_WS}(.*)$", action, re.I | re.S)
            assigns = {}
            for part in _split_top_level(set_part.group(1)):
                col, expr = part.split("=", 1)
                assigns[col.strip().strip("`")] = _expr(expr.strip(), clause)
        elif act_u != "DELETE":
            raise ValueError(f"unsupported MERGE action: {action!r}")
        if by_source.strip():
            if assigns is None:
                kwargs["when_not_matched_by_source_delete"] = True
                if cond is not None:
                    kwargs["when_not_matched_by_source_delete_condition"] = cond
            else:
                kwargs["when_not_matched_by_source_update"] = assigns
                if cond is not None:
                    kwargs["when_not_matched_by_source_update_condition"] = cond
        else:
            if assigns is None:
                kwargs["when_matched_delete_condition"] = (
                    cond if cond is not None else F.lit(True)
                )
            else:
                kwargs["when_matched_update"] = assigns
                if cond is not None:
                    kwargs["when_matched_update_condition"] = cond
    kwargs.setdefault("when_not_matched_insert", False)
    return merge_into(t, source, key_cols, **kwargs)


def execute_script(
    spark: SparkSession,
    script: str,
    tables: dict[str, ParquetTable] | None = None,
) -> list:
    """Run a ;-separated statement script in order, returning each
    statement's result (the operational runbook shape: create, load,
    constrain, optimize in one reviewable block). Statements split at
    top-level semicolons only — literals containing ';' survive."""
    results = []
    for stmt in _split_top_level(script, ";"):
        if stmt.strip():
            results.append(execute_statement(spark, stmt, tables))
    return results
