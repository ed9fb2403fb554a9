"""Seeded input generators for the benchmark workloads.

Everything a run feeds the program comes from here, from the run's
seed alone: the same seed gives byte-identical tables and the same op
sequence, a new seed changes both.

* :func:`catalog_tables` builds the ten catalog source tables with the
  column names, Arrow types, value ranges and distributions of the
  catalog's test data (TPC-H-style star schema, an ``events`` stream, a
  ``documents`` corpus with injected near-duplicates, unit-norm
  ``embeddings``) at the row counts that data has at scale factor 0.01
  or 0.1 (``CATALOG_ROWS``).
* :func:`task_source` builds the lineitem-shaped source of the task
  workload: ``SOURCE_ROWS_PER_DAY`` rows on each of ``SOURCE_DAYS`` days,
  one ``dt`` partition per day. A day holds as many rows as a ship date
  of the sf0.1 ``lineitem`` (600,000 rows over 2,499 days), and every
  window the same number whatever the seed; the seed changes the values.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the catalog's test data per scale factor; event users
# scale with them.
_SF001 = {
    "region": 5,
    "nation": 25,
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}
CATALOG_ROWS = {
    0.01: _SF001,
    0.1: {t: n if t in ("region", "nation") else 10 * n for t, n in _SF001.items()}
    | {"embeddings": 2000},
}
EVENT_USERS = {0.01: 150, 0.1: 1500}

SOURCE_START = datetime(2024, 1, 1)
SOURCE_DAYS = 40
SOURCE_ROWS_PER_DAY = 240

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "red", "small", "old", "new", "hot", "cold", "big"]
_PART_NOUN = ["bolt", "gear", "anvil", "widget", "rod", "ring", "plate", "nut"]
_PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.5, 0.125, 0.125, 0.125, 0.125]
_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window data column join small big order customer "
    "query group stream filter vector"
).split()


def _ts(base: datetime, seconds: np.ndarray) -> pa.Array:
    """Naive microsecond timestamps ``base + seconds``."""
    micros = (seconds * 1_000_000).astype("int64")
    epoch = int((base - datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    return pa.array(epoch + micros, type=pa.timestamp("us"))


def _days(rng, n: int, start: datetime, end: datetime) -> pa.Array:
    span = (end - start).days
    return _ts(start, rng.integers(0, span + 1, n).astype("int64") * 86400)


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    for _ in range(n):
        if texts and rng.random() < 0.05:
            # near-duplicate of an earlier document, as a crawl has
            texts.append(texts[int(rng.integers(0, len(texts)))] + " dup")
        else:
            words = rng.choice(_WORDS, int(rng.integers(10, 100)))
            texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P), pa.string()),
            "source": pa.array(
                [f"src{i}" for i in rng.integers(0, 20, n)], pa.string()
            ),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    vecs = rng.normal(size=(n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype("float32")
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def catalog_tables(seed: int, sf: float = 0.01) -> dict[str, pa.Table]:
    """The ten catalog source tables for ``seed`` at scale factor ``sf``."""
    rng = np.random.default_rng([seed, 1])
    n = CATALOG_ROWS[sf]
    i32, i64 = pa.int32(), pa.int64()
    tables = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(n["region"]), i32),
                "r_name": pa.array(_REGIONS[: n["region"]], pa.string()),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(n["nation"]), i32),
                "n_name": pa.array([f"NATION_{i}" for i in range(n["nation"])]),
                "n_regionkey": pa.array(
                    [i % n["region"] for i in range(n["nation"])], i32
                ),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n["customer"]), i64),
                "c_name": pa.array(
                    [f"Customer#{i:09d}" for i in range(n["customer"])]
                ),
                "c_nationkey": pa.array(
                    rng.integers(0, n["nation"], n["customer"]), i32
                ),
                "c_acctbal": _money(rng, n["customer"], -999.99, 9999.99),
                "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n["customer"])),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n["supplier"]), i64),
                "s_name": pa.array(
                    [f"Supplier#{i:09d}" for i in range(n["supplier"])]
                ),
                "s_nationkey": pa.array(
                    rng.integers(0, n["nation"], n["supplier"]), i32
                ),
                "s_acctbal": _money(rng, n["supplier"], -999.99, 9999.99),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n["part"]), i64),
                "p_name": pa.array(
                    [
                        f"{a} {b}"
                        for a, b in zip(
                            rng.choice(_PART_ADJ, n["part"]),
                            rng.choice(_PART_NOUN, n["part"]),
                        )
                    ]
                ),
                "p_brand": pa.array(
                    [f"Brand#{i}" for i in rng.integers(1, 26, n["part"])]
                ),
                "p_type": pa.array(rng.choice(_PART_TYPES, n["part"])),
                "p_size": pa.array(rng.integers(1, 51, n["part"]), i32),
                "p_retailprice": np.round(
                    900 + (np.arange(n["part"]) % 1000) / 10, 1
                ),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n["orders"]), i64),
                "o_custkey": pa.array(
                    rng.integers(0, n["customer"], n["orders"]), i64
                ),
                "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n["orders"])),
                "o_totalprice": _money(rng, n["orders"], 1000, 500000),
                "o_orderdate": _days(
                    rng, n["orders"], datetime(1995, 1, 1), datetime(2001, 8, 1)
                ),
                "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n["orders"])),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(
                    rng.integers(0, n["orders"], n["lineitem"]), i64
                ),
                "l_partkey": pa.array(rng.integers(0, n["part"], n["lineitem"]), i64),
                "l_suppkey": pa.array(
                    rng.integers(0, n["supplier"], n["lineitem"]), i64
                ),
                "l_linenumber": pa.array(rng.integers(1, 8, n["lineitem"]), i32),
                "l_quantity": rng.integers(1, 51, n["lineitem"]).astype("float64"),
                "l_extendedprice": _money(rng, n["lineitem"], 900, 105000),
                "l_discount": rng.integers(0, 11, n["lineitem"]) / 100,
                "l_tax": rng.integers(0, 9, n["lineitem"]) / 100,
                "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n["lineitem"])),
                "l_linestatus": pa.array(rng.choice(["F", "O"], n["lineitem"])),
                "l_shipdate": _days(
                    rng, n["lineitem"], datetime(1995, 1, 2), datetime(2001, 11, 4)
                ),
            }
        ),
        "events": pa.table(
            {
                "event_id": pa.array(np.arange(n["events"]), i64),
                "ts": _ts(
                    datetime(2024, 1, 1),
                    rng.uniform(0, 30 * 86400, n["events"]),
                ),
                "user_id": pa.array(
                    rng.integers(0, EVENT_USERS[sf], n["events"]), i64
                ),
                "event_type": pa.array(rng.choice(_EVENT_TYPES, n["events"])),
                # skewed: median ~35, p99 ~230
                "value": np.maximum(
                    np.round(rng.exponential(50, n["events"]), 2), 0.01
                ),
                "props": pa.array(
                    [f'{{"k": {k}}}' for k in rng.integers(0, 100, n["events"])]
                ),
            }
        ),
        "documents": _documents(rng, n["documents"]),
        "embeddings": _embeddings(rng, n["embeddings"]),
    }
    return tables


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """Write each table as ``<out_dir>/<name>.parquet`` (the layout the
    catalog's source registry and DuckDB views read)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def task_source(seed: int, days: int = SOURCE_DAYS) -> pa.Table:
    """The lineitem-shaped source of the task workload: ``days`` days
    from ``SOURCE_START``."""
    rng = np.random.default_rng([seed, 2])
    n = days * SOURCE_ROWS_PER_DAY
    day = np.repeat(np.arange(days), SOURCE_ROWS_PER_DAY)
    seconds = day * 86400 + rng.integers(0, 86400, n)
    return pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, 10**6, n), pa.int64()),
            "l_quantity": rng.integers(1, 51, n).astype("float64"),
            "l_extendedprice": _money(rng, n, 900, 100000),
            "l_discount": rng.integers(0, 11, n) / 100,
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
            "l_shipdate": _ts(SOURCE_START, seconds.astype("float64")),
        }
    )


def source_day(index: int) -> datetime:
    return SOURCE_START + timedelta(days=index)
