"""MS-Access → Spark SQL dialect converter (ancillary utility).

Reference parity: sql-converter/ms_access_to_databricks_sql.py:7-112 —
the same conversion *rules*, re-implemented as an ordered regex table
(IIf→CASE WHEN, Nz→COALESCE, Date()/Now()→CURRENT_DATE/TIMESTAMP,
Format→DATE_FORMAT, [bracket] identifier stripping, SELECT ... INTO →
CREATE OR REPLACE TEMPORARY VIEW, table-name substitution).

Also home of :func:`qident`, which the SQL-text expression builders use
to name input columns.
"""

from __future__ import annotations

import re


def qident(name: str) -> str:
    """Backtick-quoted SQL identifier for a column NAME. Expression
    builders that reference input columns textually (one ``F.expr``
    parse instead of one Py4J round-trip per Column operator) quote
    every name with it."""
    return "`" + name.replace("`", "``") + "`"


def _convert_iif(sql: str) -> str:
    """IIf(cond, a, b) → CASE WHEN cond THEN a ELSE b END (handles
    nesting by repeated innermost-first rewriting)."""
    pattern = re.compile(r"IIf\s*\(([^(),]*(?:\([^()]*\)[^(),]*)*),([^(),]*(?:\([^()]*\)[^(),]*)*),([^()]*(?:\([^()]*\)[^()]*)*)\)", re.IGNORECASE)
    prev = None
    while prev != sql:
        prev = sql
        sql = pattern.sub(lambda m: f"CASE WHEN {m.group(1).strip()} THEN {m.group(2).strip()} ELSE {m.group(3).strip()} END", sql, count=1)
    return sql


def convert_access_sql(
    sql: str, table_map: dict[str, str] | None = None
) -> str:
    """Convert an MS-Access query to Spark SQL."""
    out = _convert_iif(sql)
    out = re.sub(r"\bNz\s*\(", "COALESCE(", out, flags=re.IGNORECASE)
    out = re.sub(r"\bDate\s*\(\s*\)", "CURRENT_DATE", out, flags=re.IGNORECASE)
    out = re.sub(r"\bNow\s*\(\s*\)", "CURRENT_TIMESTAMP", out, flags=re.IGNORECASE)
    out = re.sub(r"\bFormat\s*\(", "DATE_FORMAT(", out, flags=re.IGNORECASE)
    out = re.sub(r"\[([A-Za-z_][\w ]*)\]", lambda m: m.group(1).replace(" ", "_"), out)
    # SELECT ... INTO target FROM ... → CREATE OR REPLACE TEMPORARY VIEW
    m = re.search(r"^(SELECT\s+.*?)\s+INTO\s+(\S+)\s+(FROM\s+.*)$", out, re.IGNORECASE | re.DOTALL)
    if m:
        out = (
            f"CREATE OR REPLACE TEMPORARY VIEW {m.group(2)} AS "
            f"{m.group(1)} {m.group(3)}"
        )
    for old, new in (table_map or {}).items():
        out = re.sub(rf"\b{re.escape(old)}\b", new, out)
    return out
