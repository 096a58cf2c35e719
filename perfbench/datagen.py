"""Seeded synthetic inputs for the lake_oltp and query_mix workloads.

:func:`write_sf_tables` writes the ten-table star schema the query
catalog reads (``region nation customer supplier part orders lineitem
events documents embeddings``, one parquet file each) with the column
names, types and value domains of the TESTDATA.md fixture at scale factor
``sf``: TPC-H-like tables whose foreign keys are uniform draws, an events
stream over January 2024, a 31-word document corpus with 5% ``" dup"``
near-duplicates, and 64-dimensional unit embeddings with a weak label
signal.

:func:`lineitem_frame` is the lineitem table with a unique
``(l_orderkey, l_linenumber)`` key, so a key-to-row model of a
VersionedTable built from it is exact.

Everything is drawn from ``numpy.random.default_rng(seed)``: the same
seed gives the same rows.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]

ORDER_DAY0 = np.datetime64("1995-01-01")
ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01
SHIP_DAY0 = np.datetime64("1995-01-02")
SHIP_DAYS = 2498  # 1995-01-02 .. 2001-11-04
EVENT_T0 = np.datetime64("2024-01-01T00:00:00", "us")
EVENT_SPAN_US = 30 * 86400 * 1_000_000
# lineitem_frame's part and supplier key domains
FRAME_PARTS = 20_000
FRAME_SUPPS = 1_000
EMBED_DIM = 64


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(day0: np.datetime64, days: np.ndarray) -> np.ndarray:
    return (day0 + days.astype("timedelta64[D]")).astype("datetime64[us]")


def _lineitem_columns(rng, n_rows: int, n_parts: int, n_supps: int) -> dict:
    return {
        "l_partkey": rng.integers(0, n_parts, n_rows),
        "l_suppkey": rng.integers(0, n_supps, n_rows),
        "l_quantity": rng.integers(1, 51, n_rows).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_rows),
        "l_discount": rng.integers(0, 11, n_rows) / 100.0,
        "l_tax": rng.integers(0, 9, n_rows) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_rows),
        "l_linestatus": rng.choice(["F", "O"], n_rows),
        "l_shipdate": _ts(SHIP_DAY0, rng.integers(0, SHIP_DAYS, n_rows)),
    }


def lineitem_frame(seed: int, n_orders: int) -> pd.DataFrame:
    """Lineitem with 1-7 lines per order and a unique (order, line) key."""
    rng = np.random.default_rng(seed)
    lines = rng.integers(1, 8, n_orders)
    orderkey = np.repeat(np.arange(n_orders, dtype="int64"), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    linenumber = (np.arange(len(orderkey)) - starts + 1).astype("int32")
    cols = _lineitem_columns(rng, len(orderkey), FRAME_PARTS, FRAME_SUPPS)
    return pd.DataFrame({"l_orderkey": orderkey, "l_linenumber": linenumber, **cols})[
        ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
         "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
         "l_shipdate"]
    ]


def _documents(rng, n: int) -> pd.DataFrame:
    texts = [
        " ".join(rng.choice(VOCAB, int(k)))
        for k in rng.integers(10, 100, n)
    ]
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype="int64"),
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    labels = rng.integers(0, 10, n).astype("int32")
    centroids = rng.normal(size=(10, EMBED_DIM))
    vecs = rng.normal(size=(n, EMBED_DIM)) + 0.15 * centroids[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype="int64")),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(labels),
        }
    )


def _events(rng, n: int, n_users: int) -> pd.DataFrame:
    offsets = np.sort(rng.integers(0, EVENT_SPAN_US, n))
    return pd.DataFrame(
        {
            "event_id": np.arange(n, dtype="int64"),
            "ts": EVENT_T0 + offsets.astype("timedelta64[us]"),
            "user_id": rng.integers(0, n_users, n),
            "event_type": rng.choice(EVENT_TYPES, n),
            "value": np.round(rng.exponential(50.0, n), 2) + 0.01,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def sf_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten fixture tables at scale factor ``sf`` (lineitem = 6M x sf)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord, n_line = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    frames: dict[str, pd.DataFrame] = {
        "region": pd.DataFrame(
            {"r_regionkey": np.arange(5, dtype="int32"), "r_name": REGIONS}
        ),
        "nation": pd.DataFrame(
            {
                "n_nationkey": np.arange(25, dtype="int32"),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype("int32"),
            }
        ),
        "customer": pd.DataFrame(
            {
                "c_custkey": np.arange(n_cust, dtype="int64"),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": rng.choice(SEGMENTS, n_cust),
            }
        ),
        "supplier": pd.DataFrame(
            {
                "s_suppkey": np.arange(n_supp, dtype="int64"),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pd.DataFrame(
            {
                "p_partkey": np.arange(n_part, dtype="int64"),
                "p_name": [
                    f"{a} {b}"
                    for a, b in zip(rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": rng.choice(PART_TYPES, n_part),
                "p_size": rng.integers(1, 51, n_part).astype("int32"),
                "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
            }
        ),
        "orders": pd.DataFrame(
            {
                "o_orderkey": np.arange(n_ord, dtype="int64"),
                "o_custkey": rng.integers(0, n_cust, n_ord),
                "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
                "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
                "o_orderdate": _ts(ORDER_DAY0, rng.integers(0, ORDER_DAYS, n_ord)),
                "o_orderpriority": rng.choice(PRIORITIES, n_ord),
            }
        ),
        "lineitem": pd.DataFrame(
            {
                "l_orderkey": rng.integers(0, n_ord, n_line),
                "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
                **_lineitem_columns(rng, n_line, n_part, n_supp),
            }
        )[
            ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
             "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
             "l_linestatus", "l_shipdate"]
        ],
        "events": _events(rng, int(1_000_000 * sf), max(10, int(15_000 * sf))),
        "documents": _documents(rng, int(50_000 * sf)),
    }
    tables = {
        name: pa.Table.from_pandas(df, preserve_index=False) for name, df in frames.items()
    }
    tables["embeddings"] = _embeddings(rng, int(50_000 * sf))
    return tables


def write_sf_tables(seed: int, sf: float, out_dir: str) -> int:
    """Write the tables as ``<out_dir>/<name>.parquet``; returns bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in sf_tables(seed, sf).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total
