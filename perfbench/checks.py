"""Output checks, run outside the timed ops.

- ``frame_digest``: row count, column names and an order-insensitive
  value hash, the comparison the repo's DuckDB oracle gate
  (``tools/check_oracle.py``) uses. That script is not imported: at
  import it puts a fixed absolute repository path on ``sys.path``, which
  would let the benchmark load the engine from outside its checkout.
- ``check_scd2`` / ``check_scd1``: the final merge targets against the
  state replayed in pandas from the generated batches
  (``datagen.OrdersFeed``), independently of the engine.

Each check returns a list of problems; an empty list is a pass.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math

import pandas as pd

from datagen import BUSINESS_COLS, OrdersFeed


def _canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, decimal.Decimal):
        return str(v.normalize())
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def frame_digest(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(_canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def compare_to_oracle(
    scols: list[str], srows: list[tuple], dcols: list[str], drows: list[tuple]
) -> list[str]:
    problems = []
    if len(srows) != len(drows):
        problems.append(f"rows {len(srows)} vs oracle {len(drows)}")
    if sorted(scols) != sorted(dcols):
        problems.append(f"columns {sorted(scols)} vs oracle {sorted(dcols)}")
    if not problems and frame_digest(scols, srows) != frame_digest(dcols, drows):
        problems.append("value hash differs from oracle")
    return problems


def _compare_current(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """``got``: one row per key (indexed by key) from the table; ``want``:
    ``OrdersFeed.expected_latest``."""
    problems = []
    if got.index.has_duplicates:
        problems.append("more than one current row for some key")
        return problems
    if set(got.index) != set(want.index):
        problems.append(
            f"current keys {len(got)} vs expected {len(want)} "
            f"({len(set(want.index) - set(got.index))} missing)"
        )
        return problems
    got = got.loc[want.index]
    for col in BUSINESS_COLS:
        a, b = got[col], want[col]
        if col == "o_orderdate":
            a, b = pd.to_datetime(a), pd.to_datetime(b)
        same = (a.values == b.values) | (a.isna().values & b.isna().values)
        if not same.all():
            problems.append(f"{int((~same).sum())} keys with a wrong {col}")
    return problems


def check_scd2(table_df: pd.DataFrame, feed: OrdersFeed, n_batches: int) -> list[str]:
    """SCD2 target after batches 0..n_batches-1: the expected number of
    history rows, and exactly one current row per key with the latest
    values."""
    problems = []
    want_rows = feed.expected_versions(n_batches)
    if len(table_df) != want_rows:
        problems.append(f"history rows {len(table_df)} vs expected {want_rows}")
    current = table_df[table_df["is_current"] == 1].set_index("o_orderkey")
    problems += _compare_current(current, feed.expected_latest(n_batches))
    return problems


def check_scd1(table_df: pd.DataFrame, feed: OrdersFeed, n_batches: int) -> list[str]:
    """SCD1 target after batches 0..n_batches-1: one row per key holding
    its latest values."""
    return _compare_current(
        table_df.set_index("o_orderkey"), feed.expected_latest(n_batches)
    )
