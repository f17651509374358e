"""Seeded input generation for the benchmark.

Everything the benchmark feeds the engine is made here from ``--seed``:
the same seed gives byte-identical inputs. Two kinds of input:

- ``write_star_schema``: the ten analytics tables the registry queries
  read (TPC-H-like star schema plus ``events``, ``documents`` and
  ``embeddings``), with the column names, types and value domains the
  queries and their DuckDB oracles expect. ``scale`` follows the usual
  scale-factor convention (0.01 -> 15k orders, 60k line items).
- ``OrdersFeed``: an orders change feed for the write workloads. An
  initial keyset, then numbered batches of key updates, new keys and a
  few rows that break the data-quality rules. Batch ``i`` is a pure
  function of ``(seed, i)``, so batches can be made one at a time while
  the benchmark runs, and ``expected_*`` replays them independently of
  the engine for the output checks.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["FURNITURE", "MACHINERY", "BUILDING", "HOUSEHOLD", "AUTOMOBILE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["F", "O", "P"]
PART_ADJ = ["cold", "small", "large", "red", "blue", "green", "shiny", "dull"]
PART_NOUN = ["widget", "bolt", "nut", "gear", "spring", "valve", "pipe", "cog"]
PART_TYPES = ["ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD", "SMALL"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "es", "de", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = (
    "a the data row column table scan filter join hash merge sort group agg "
    "window query key value part line order customer batch stream spark "
    "vector small big fast slow"
).split()

_EPOCH_1995 = np.datetime64("1995-01-01", "D")
_DAYS_ORDERS = int((np.datetime64("2001-08-01", "D") - _EPOCH_1995).astype(int))


def _write(df: pd.DataFrame, path: str, schema: pa.Schema | None = None) -> int:
    """Write one parquet file; returns its size in bytes."""
    table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    pq.write_table(table, path)
    return os.path.getsize(path)


def _dates(rng: np.random.Generator, n: int) -> np.ndarray:
    days = rng.integers(0, _DAYS_ORDERS + 1, n)
    return (_EPOCH_1995 + days).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_star_schema(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write the ten registry tables as ``{out_dir}/{table}.parquet``.

    Returns the row count of each table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust = max(15, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_orders = max(1_500, int(1_500_000 * scale))
    n_events = max(1_000, int(1_000_000 * scale))
    n_users = max(15, int(15_000 * scale))
    n_docs = max(500, int(50_000 * scale))
    n_vecs = max(500, int(20_000 * scale))
    i32 = np.int32

    tables: dict[str, pd.DataFrame] = {}
    tables["region"] = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype=i32), "r_name": REGIONS}
    )
    tables["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(i32),
        }
    )
    tables["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    tables["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    part_key = np.arange(n_part, dtype=np.int64)
    tables["part"] = pd.DataFrame(
        {
            "p_partkey": part_key,
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(i32),
            "p_retailprice": np.round(900.0 + (part_key % 200) * 0.1, 2),
        }
    )
    o_date = _dates(rng, n_orders)
    tables["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
            "o_orderstatus": rng.choice(STATUSES, n_orders),
            "o_totalprice": _money(rng, 1_000.0, 500_000.0, n_orders),
            "o_orderdate": o_date,
            "o_orderpriority": rng.choice(PRIORITIES, n_orders),
        }
    )
    # 1-7 lines per order, numbered 1..k: (l_orderkey, l_linenumber) is unique
    lines = rng.integers(1, 8, n_orders)
    l_order = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    l_num = (np.arange(len(l_order)) - np.repeat(np.cumsum(lines) - lines, lines) + 1)
    n_li = len(l_order)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    tables["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": l_order,
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": l_num.astype(i32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2_100.0, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["N", "A", "R"], n_li),
            "l_linestatus": rng.choice(["O", "F"], n_li),
            "l_shipdate": o_date[l_order]
            + rng.integers(1, 121, n_li).astype("timedelta64[D]").astype("timedelta64[us]"),
        }
    )
    month_us = 30 * 86_400 * 1_000_000
    ts_us = np.sort(rng.integers(0, month_us, n_events))
    tables["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": np.datetime64("2024-01-01", "us") + ts_us.astype("timedelta64[us]"),
            "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, n_events),
            "value": np.round(rng.exponential(50.0, n_events), 2) + 0.01,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    tables["documents"] = _documents(rng, n_docs)
    vecs = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": list(vecs),
            "label": rng.integers(0, 10, n_vecs).astype(i32),
        }
    )
    for name, df in tables.items():
        _write(df, os.path.join(out_dir, f"{name}.parquet"))
    return {name: len(df) for name, df in tables.items()}


def _documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """Texts over a 30-word vocabulary; about 5% are near-duplicates of an
    earlier document (its text minus a short prefix, plus a ``dup`` tag),
    which is what the fuzzy-dedup queries look for."""
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            base = texts[int(rng.integers(0, i))]
            texts.append(base[int(rng.integers(0, 12)):].lstrip() + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(VOCAB, k)))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P),
            "source": [f"src{s}" for s in rng.integers(0, 20, n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


# --------------------------------------------------------------------------
# the orders change feed for the write workloads

ORDERS_SCHEMA = pa.schema(
    [
        ("o_orderkey", pa.int64()),
        ("o_custkey", pa.int64()),
        ("o_orderstatus", pa.string()),
        ("o_totalprice", pa.float64()),
        ("o_orderdate", pa.timestamp("us")),
        ("o_orderpriority", pa.string()),
    ]
)
BUSINESS_COLS = [f.name for f in ORDERS_SCHEMA if f.name != "o_orderkey"]

#: the three DQ rules the write workloads configure; ``OrdersFeed`` breaks
#: each of them in a few rows of every batch
DQ_RULES = [
    {"rule_id": "prio_not_null", "rule_type": "null_check", "column": "o_orderpriority"},
    {
        "rule_id": "price_range",
        "rule_type": "range_check",
        "column": "o_totalprice",
        "operator": "between",
        "threshold_low": 0.0,
        "threshold_high": 1_000_000.0,
    },
    {
        "rule_id": "status_valid",
        "rule_type": "valid_values_check",
        "column": "o_orderstatus",
        "valid_values": STATUSES,
    },
]

#: landed files get synthetic, strictly increasing modification times (one
#: minute apart) so the SCD order column is deterministic
MTIME_BASE = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp()


class OrdersFeed:
    """Batch 0 is the initial load (``initial`` new keys); batch ``i >= 1``
    holds ``batch_rows`` distinct keys: about 60% updates of keys that
    exist before it (every update changes ``o_totalprice``), 40% new keys,
    and 3% of the rows break one DQ rule."""

    def __init__(self, seed: int, initial: int, batch_rows: int):
        self.seed = seed
        self.initial = initial
        self.batch_rows = batch_rows
        self.n_new = int(batch_rows * 0.4)
        self.n_upd = batch_rows - self.n_new

    def keys_before(self, i: int) -> int:
        """Number of keys (0..n-1) that exist before batch ``i``."""
        return 0 if i == 0 else self.initial + (i - 1) * self.n_new

    def batch(self, i: int) -> pd.DataFrame:
        rng = np.random.default_rng([self.seed, 2, i])
        start = self.keys_before(i)
        if i == 0:
            keys = np.arange(self.initial, dtype=np.int64)
        else:
            upd = rng.choice(start, self.n_upd, replace=False).astype(np.int64)
            keys = np.concatenate(
                [upd, np.arange(start, start + self.n_new, dtype=np.int64)]
            )
        n = len(keys)
        df = pd.DataFrame(
            {
                "o_orderkey": keys,
                "o_custkey": rng.integers(0, 15_000, n).astype(np.int64),
                "o_orderstatus": rng.choice(STATUSES, n).astype(object),
                # a key's price is a function of (key, batch): every update
                # changes it, so each update is a new SCD2 version
                "o_totalprice": np.round(
                    1_000.0 + ((keys * 7_919 + i * 104_729) % 499_000) + rng.random(n), 2
                ),
                "o_orderdate": _dates(rng, n),
                "o_orderpriority": rng.choice(PRIORITIES, n).astype(object),
            }
        )
        if i > 0:
            bad = rng.choice(n, max(3, n * 3 // 100), replace=False)
            for j, row in enumerate(bad):
                rule = j % 3
                if rule == 0:
                    df.loc[row, "o_orderpriority"] = None
                elif rule == 1:
                    df.loc[row, "o_totalprice"] = -df.loc[row, "o_totalprice"]
                else:
                    df.loc[row, "o_orderstatus"] = "X"
        return df.sample(frac=1.0, random_state=rng.integers(1 << 31)).reset_index(drop=True)

    def land(self, i: int, directory: str) -> tuple[str, int, pd.DataFrame]:
        """Write batch ``i`` as one parquet file under ``directory`` with
        its synthetic mtime. Returns (path, bytes, batch)."""
        os.makedirs(directory, exist_ok=True)
        df = self.batch(i)
        path = os.path.join(directory, f"orders-{i:05d}.parquet")
        size = _write(df, path, ORDERS_SCHEMA)
        mtime = MTIME_BASE + 60.0 * i
        os.utime(path, (mtime, mtime))
        return path, size, df

    def expected_latest(self, n_batches: int) -> pd.DataFrame:
        """Latest version per key after batches 0..n_batches-1 — the SCD1
        state, and the SCD2 current rows — indexed by key."""
        frames = [self.batch(i).assign(_batch=i) for i in range(n_batches)]
        allv = pd.concat(frames, ignore_index=True)
        allv = allv.sort_values(["o_orderkey", "_batch"])
        return allv.groupby("o_orderkey").tail(1).set_index("o_orderkey")

    def expected_versions(self, n_batches: int) -> int:
        """SCD2 history rows after batches 0..n_batches-1: every batch row
        is a new version (updates always change the price)."""
        return self.initial + (n_batches - 1) * self.batch_rows
