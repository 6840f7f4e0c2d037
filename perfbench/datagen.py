"""Seeded inputs for the benchmark: TPC-H-shaped ``orders`` and
``lineitem`` tables and churned snapshot pairs of them, plus the full
ten-table set the analytics queries read (``tpch_tables``).

Everything is drawn from ``numpy.random.Generator``s seeded by the
benchmark seed, so the same seed gives identical inputs. Row counts
follow the TPC-H scale factor: ``sf=0.002`` gives 3,000 orders and
about 12,000 lineitems.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]
LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
N_DOCS = 500
EMBED_DIM = 64

_DAY0 = np.datetime64("1995-01-01")
_DATE_SPAN_DAYS = 2404  # 1995-01-01 .. 2001-08-01


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng: np.random.Generator, n: int) -> np.ndarray:
    return _DAY0 + rng.integers(0, _DATE_SPAN_DAYS, n).astype("timedelta64[D]")


def orders_lineitem(seed: int, sf: float) -> dict[str, pd.DataFrame]:
    """``orders`` and its ``lineitem`` children, 1 to 7 lines per order,
    with the columns and value domains of the TPC-H tables."""
    rng = np.random.default_rng(seed)
    n_ord = int(1_500_000 * sf)
    n_cust = max(1, int(150_000 * sf))
    orders = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _dates(rng, n_ord),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    lines_per = rng.integers(1, 8, n_ord)
    n_li = int(lines_per.sum())
    starts = np.repeat(np.cumsum(lines_per) - lines_per, lines_per)
    lineitem = pd.DataFrame(
        {
            "l_orderkey": np.repeat(np.arange(n_ord, dtype=np.int64), lines_per),
            "l_partkey": rng.integers(0, int(200_000 * sf), n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, int(10_000 * sf), n_li).astype(np.int64),
            "l_linenumber": (np.arange(n_li) - starts + 1).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": _dates(rng, n_li),
        }
    )
    return {"orders": orders, "lineitem": lineitem}


def tpch_tables(seed: int, sf: float) -> dict[str, pd.DataFrame]:
    """The ten tables of the analytics registry (``contract.TABLES``),
    with their column names and types: the TPC-H star around
    ``orders``/``lineitem``, an ``events`` stream, ``documents`` with
    near-duplicate texts and unit-norm ``embeddings``."""
    tables = orders_lineitem(seed, sf)
    rng = np.random.default_rng([seed, 2])
    n_cust = max(1, int(150_000 * sf))
    n_supp = max(1, int(10_000 * sf))
    n_part = max(1, int(200_000 * sf))
    n_events = max(1, int(1_000_000 * sf))
    i32 = np.int32
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
    tables["part"] = pd.DataFrame(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": rng.choice(["small ring", "red widget", "blue bolt"], n_part),
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(["ECONOMY", "STANDARD", "PROMO"], n_part),
            "p_size": rng.integers(1, 51, n_part).astype(i32),
            "p_retailprice": np.round(900.0 + np.arange(n_part) * 0.1, 2),
        }
    )
    ts = np.sort(
        np.datetime64("2024-01-01T00:00:00", "us")
        + rng.integers(0, 30 * 86_400_000_000, n_events).astype("timedelta64[us]")
    )
    tables["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": ts,
            "user_id": rng.integers(0, 150, n_events).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, n_events),
            "value": np.round(rng.exponential(50.0, n_events), 2) + 0.01,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    texts = []
    for i in range(N_DOCS):
        if i % 10 == 9:  # near-duplicate of an earlier document
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = list(rng.choice(WORDS, int(rng.integers(8, 80))))
        texts.append(" ".join(words))
    tables["documents"] = pd.DataFrame(
        {
            "doc_id": np.arange(N_DOCS, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, N_DOCS),
            "source": [f"src{i % 20}" for i in range(N_DOCS)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    vecs = rng.normal(size=(N_DOCS, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(N_DOCS, dtype=np.int64),
            "embedding": list(vecs),
            "label": rng.integers(0, 10, N_DOCS).astype(i32),
        }
    )
    return tables


def write_parquet(tables: dict[str, pd.DataFrame], out_dir: str) -> None:
    """One ``<name>.parquet`` file per table, timestamps in
    microseconds (Spark cannot read nanosecond parquet timestamps)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables.items():
        df.to_parquet(
            os.path.join(out_dir, f"{name}.parquet"),
            index=False,
            coerce_timestamps="us",
            allow_truncated_timestamps=True,
        )


@dataclass
class SnapshotPair:
    """Two snapshots of one table that differ only by the intended
    churn. ``expected`` is the (inserted, updated, deleted) triple a
    sync from A to B must report; B to A swaps inserted and deleted."""

    a: pd.DataFrame
    b: pd.DataFrame
    expected: tuple[int, int, int]

    def expected_to(self, target: str) -> tuple[int, int, int]:
        ins, upd, dele = self.expected
        return (ins, upd, dele) if target == "b" else (dele, upd, ins)


def churn_pair(
    rng: np.random.Generator, df: pd.DataFrame, update_col: str, share: float
) -> SnapshotPair:
    """Split ``df`` into snapshots A and B: ``share`` of the rows exist
    only in B (inserts), ``share`` only in A (deletes), and ``share``
    carry a changed ``update_col`` in B (updates); at least one row of
    each kind."""
    n = len(df)
    k = max(1, int(round(n * share)))
    picks = rng.permutation(n)[: 3 * k]
    only_b, only_a, changed = picks[:k], picks[k : 2 * k], picks[2 * k :]
    in_a = np.ones(n, dtype=bool)
    in_a[only_b] = False
    in_b = np.ones(n, dtype=bool)
    in_b[only_a] = False
    b = df.copy()
    col = b.columns.get_loc(update_col)
    if pd.api.types.is_numeric_dtype(b[update_col]):
        b.iloc[changed, col] = b.iloc[changed, col] + 1
    else:
        b.iloc[changed, col] = b.iloc[changed, col].astype(str) + "~"
    return SnapshotPair(
        a=df[in_a].reset_index(drop=True),
        b=b[in_b].reset_index(drop=True),
        expected=(k, k, k),
    )


def date_text(df: pd.DataFrame) -> pd.DataFrame:
    """Dates as ``YYYY-MM-DD`` text, the one form both the CSV file
    side and the DB side store, so an unchanged row reads unchanged."""
    out = df.copy()
    for c in out.columns:
        if pd.api.types.is_datetime64_any_dtype(out[c]):
            out[c] = out[c].dt.strftime("%Y-%m-%d")
    return out


def with_ordinal_key(df: pd.DataFrame, key: str) -> pd.DataFrame:
    """Prepend a 0..n-1 surrogate key: the syncer keys on one column and
    lineitem's natural key is (l_orderkey, l_linenumber)."""
    out = df.copy()
    out.insert(0, key, np.arange(len(out), dtype=np.int64))
    return out


def write_csv(df: pd.DataFrame, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    df.to_csv(path, index=False)
