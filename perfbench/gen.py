"""Seeded input generator for the benchmark.

Everything a run reads is made here from ``--seed``; the same seed gives
byte-identical tables and the same blob schedule.  Two input families:

- CDC blobs: lineitem-shaped rows keyed by ``(l_orderkey, l_linenumber)``,
  resharded into many parquet blobs with distinct, increasing mtimes
  (millisecond resolution: the engine's ``createdon`` is the blob's
  mtime in µs and the local Hadoop FS reports mtimes in whole ms, so
  finer spacing would collide).  No key appears twice in one blob and no
  two blobs share an mtime, so no ``(key, version)`` pair repeats and
  latest-wins has a single answer.
- Query tables: a TPC-H-ish star schema plus ``events`` in the shapes the
  query registry reads.

Blobs land by write-to-temp + rename.  The temp name starts with ``.``,
which Spark's file sources skip, so a reader never sees a partial file.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

KEY_COLS = ("l_orderkey", "l_linenumber")
LINES_PER_ORDER = 4
_SHIP_EPOCH_US = 788_918_400_000_000  # 1995-01-01T00:00:00Z


def rng_for(seed: int, *stream: int) -> np.random.Generator:
    """Independent, reproducible stream per (seed, purpose...)."""
    return np.random.default_rng([int(seed), *map(int, stream)])


def key_columns(ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Row id → (l_orderkey, l_linenumber); a bijection on ids ≥ 0."""
    ids = np.asarray(ids, dtype=np.int64)
    return ids // LINES_PER_ORDER, (ids % LINES_PER_ORDER + 1).astype(np.int32)


def lineitem_rows(rng: np.random.Generator, ids: np.ndarray) -> pa.Table:
    """Lineitem-shaped rows for the given row ids (values drawn fresh,
    so the same id drawn twice is an update)."""
    n = len(ids)
    orderkey, linenumber = key_columns(ids)
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(qty * rng.uniform(900.0, 2100.0, n), 2)
    ship_us = _SHIP_EPOCH_US + rng.integers(0, 2500, n) * 86_400_000_000
    return pa.table(
        {
            "l_orderkey": pa.array(orderkey, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, 20_000, n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, 1_000, n), pa.int64()),
            "l_linenumber": pa.array(linenumber, pa.int32()),
            "l_quantity": pa.array(qty, pa.float64()),
            "l_extendedprice": pa.array(price, pa.float64()),
            "l_discount": pa.array(np.round(rng.uniform(0, 0.1, n), 2), pa.float64()),
            "l_tax": pa.array(np.round(rng.uniform(0, 0.08, n), 2), pa.float64()),
            "l_returnflag": pa.array(rng.choice(np.array(["A", "N", "R"]), n)),
            "l_linestatus": pa.array(rng.choice(np.array(["F", "O"]), n)),
            "l_shipdate": pa.array(ship_us, pa.timestamp("us")),
        }
    )


def write_blob(path: str, table: pa.Table, mtime_ms: int) -> int:
    """Land one blob atomically with an exact ms mtime; returns its size.

    The temp file gets the mtime before the rename (rename keeps it), so
    the blob is never visible with a provisional timestamp."""
    directory, name = os.path.split(path)
    tmp = os.path.join(directory, f".{name}.tmp")
    pq.write_table(table, tmp, compression="snappy")
    ns = int(mtime_ms) * 1_000_000
    os.utime(tmp, ns=(ns, ns))
    os.rename(tmp, path)
    return os.path.getsize(path)


def mtime_ms_of(path: str) -> int:
    """A file's mtime as the engine sees it: whole milliseconds (the
    local Hadoop FS truncates to ms), whatever finer resolution the OS
    keeps."""
    return os.stat(path).st_mtime_ns // 1_000_000


@dataclass(frozen=True)
class Blob:
    path: str
    mtime_ms: int
    rows: int
    bytes: int

    @property
    def version_us(self) -> int:
        return self.mtime_ms * 1000


def write_blobs(
    directory: str,
    rng: np.random.Generator,
    ids: np.ndarray,
    num_blobs: int,
    first_mtime_ms: int,
    prefix: str = "part",
) -> list[Blob]:
    """Shuffle ``ids`` and reshard them into ``num_blobs`` blobs whose
    mtimes are ``first_mtime_ms, +1 ms, +2 ms, …`` (distinct at the
    filesystem's ms resolution).  ``ids`` must be distinct."""
    os.makedirs(directory, exist_ok=True)
    order = rng.permutation(np.asarray(ids, dtype=np.int64))
    blobs = []
    for i, chunk in enumerate(np.array_split(order, num_blobs)):
        path = os.path.join(directory, f"{prefix}-{i:05d}.parquet")
        size = write_blob(path, lineitem_rows(rng, chunk), first_mtime_ms + i)
        blobs.append(Blob(path, mtime_ms_of(path), len(chunk), size))
    return blobs


def upsert_ids(
    rng: np.random.Generator, live: int, updates: int, inserts: int = 0
) -> np.ndarray:
    """``updates`` distinct existing ids from ``[0, live)`` plus
    ``inserts`` new ids ``live, live+1, …`` (the caller advances
    ``live``)."""
    upd = rng.choice(live, size=updates, replace=False)
    return np.concatenate([upd, np.arange(live, live + inserts)]).astype(np.int64)


# -- query tables -------------------------------------------------------------

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_EVENT_EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def query_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The registry's input tables at scale factor ``sf`` (lineitem has
    ~6M·sf rows, as in TPC-H)."""
    rng = rng_for(seed, 7)
    n_cust, n_part, n_supp = int(150_000 * sf), int(200_000 * sf), max(int(10_000 * sf), 10)
    n_ord, n_ev = int(1_500_000 * sf), int(1_000_000 * sf)
    day_us = 86_400_000_000

    nation_ids = np.arange(25, dtype=np.int32)
    tables = {
        "region": pa.table(
            {"r_regionkey": pa.array(np.arange(5), pa.int32()), "r_name": list(REGIONS)}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(nation_ids),
                "n_name": [f"NATION_{i}" for i in nation_ids],
                "n_regionkey": pa.array(nation_ids % 5),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
                "c_mktsegment": rng.choice(
                    np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]),
                    n_cust,
                ),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                "p_name": rng.choice(
                    np.array(["small ring", "red widget", "blue bolt", "green gear", "steel pin"]),
                    n_part,
                ),
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": rng.choice(
                    np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]), n_part
                ),
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
            }
        ),
    }
    order_days = rng.integers(0, 2400, n_ord)
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), n_ord),
            "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
            "o_orderdate": pa.array(_SHIP_EPOCH_US + order_days * day_us, pa.timestamp("us")),
            "o_orderpriority": rng.choice(
                np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]), n_ord
            ),
        }
    )
    li = lineitem_rows(rng, np.arange(n_ord * LINES_PER_ORDER, dtype=np.int64))
    tables["lineitem"] = li.set_column(
        li.schema.get_field_index("l_partkey"),
        "l_partkey",
        pa.array(rng.integers(0, n_part, li.num_rows), pa.int64()),
    )
    ev_ts = _EVENT_EPOCH_US + np.sort(rng.integers(0, 30 * day_us, n_ev))
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(ev_ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(n_ev // 66, 10), n_ev), pa.int64()),
            "event_type": rng.choice(
                np.array(["click", "error", "purchase", "signup", "view"]), n_ev
            ),
            "value": np.round(rng.exponential(20.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    return tables


def write_query_tables(directory: str, seed: int, sf: float) -> dict[str, int]:
    """Write every query table as ``<directory>/<name>.parquet``; returns
    row counts."""
    os.makedirs(directory, exist_ok=True)
    counts = {}
    for name, table in query_tables(seed, sf).items():
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
