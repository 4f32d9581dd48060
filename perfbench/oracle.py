"""DuckDB oracle for every run's correctness check.

``LatestWins`` keeps every generated blob in DuckDB together with the
blob's version (its mtime in µs) and answers what the merged target must
hold: one row per key, the one from the newest blob.  The checks compare
the engine's answers against it; each mismatch counts as a failed
operation.  ``query_mismatch`` compares a registry query's Spark result
with its DuckDB oracle SQL under the registry's contract
(``plans/registry.py``): same column names, same row count, same values
irrespective of row order.
"""

from __future__ import annotations

import hashlib
import math

import duckdb
import pandas as pd

from perfbench.gen import KEY_COLS, Blob

TARGET_COLS = (
    "l_orderkey",
    "l_partkey",
    "l_suppkey",
    "l_linenumber",
    "l_quantity",
    "l_extendedprice",
    "l_discount",
    "l_tax",
    "l_returnflag",
    "l_linestatus",
    "l_shipdate",
    "createdon",
)
# Timestamps compare at epoch µs: pandas carries them as ns, parquet as µs.
_SELECT = ", ".join(
    "epoch_us(l_shipdate) AS l_shipdate" if c == "l_shipdate" else c for c in TARGET_COLS
)


def merge_key(orderkey: int, linenumber: int) -> str:
    """The engine's ``arcane_merge_key``: SHA-256 hex of the ``||``-joined
    primary-key strings."""
    return hashlib.sha256(f"{int(orderkey)}||{int(linenumber)}".encode()).hexdigest()


class LatestWins:
    """Latest-wins state of a set of blobs, held in an in-memory DuckDB."""

    def __init__(self) -> None:
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 1")
        self._tables = 0
        self.max_version_us: int | None = None

    def add(self, blobs: list[Blob]) -> None:
        if not blobs:
            return
        values = ",".join(f"('{b.path}', {b.version_us})" for b in blobs)
        paths = ",".join(f"'{b.path}'" for b in blobs)
        select = (
            f"SELECT r.* EXCLUDE (filename), v.createdon FROM "
            f"read_parquet([{paths}], filename=true) r JOIN "
            f"(VALUES {values}) v(path, createdon) ON r.filename = v.path"
        )
        if self._tables == 0:
            self.con.execute(f"CREATE TABLE rows AS {select}")
        else:
            self.con.execute(f"INSERT INTO rows {select}")
        self._tables += 1
        top = max(b.version_us for b in blobs)
        self.max_version_us = max(self.max_version_us or top, top)

    def _latest(self, where: str = "TRUE") -> str:
        keys = ", ".join(KEY_COLS)
        return (
            f"SELECT {_SELECT} FROM rows QUALIFY row_number() OVER "
            f"(PARTITION BY {keys} ORDER BY createdon DESC) = 1 AND ({where})"
        )

    def count(self, where: str = "TRUE") -> int:
        return self.con.execute(f"SELECT count(*) FROM ({self._latest(where)})").fetchone()[0]

    def mismatches(self, actual: pd.DataFrame, where: str = "TRUE") -> int:
        """Rows in the symmetric difference between ``actual`` (engine
        rows with the lineitem columns plus ``createdon``) and the
        latest-wins rows matching ``where``."""
        self.con.register("actual_df", actual)
        try:
            exp = self._latest(where)
            act = f"SELECT {_SELECT} FROM actual_df"
            return self.con.execute(
                f"SELECT (SELECT count(*) FROM ({exp} EXCEPT ALL {act})) + "
                f"(SELECT count(*) FROM ({act} EXCEPT ALL {exp}))"
            ).fetchone()[0]
        finally:
            self.con.unregister("actual_df")


def target_frame(df) -> pd.DataFrame:
    """Engine DataFrame → pandas with the columns the oracle compares."""
    return df.select(*TARGET_COLS).toPandas()


# -- query registry -----------------------------------------------------------


def _canonical(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for col in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[col]):
            df[col] = df[col].astype("datetime64[us]")
        elif df[col].dtype == object:
            df[col] = df[col].map(lambda v: tuple(v) if isinstance(v, (list, tuple)) else v)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return (math.isnan(a) and math.isnan(b)) or a == b
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def query_mismatch(spark_pd: pd.DataFrame, duck_pd: pd.DataFrame) -> str | None:
    """None when the two results agree, else a one-line reason."""
    if sorted(spark_pd.columns) != sorted(duck_pd.columns):
        return f"columns {sorted(spark_pd.columns)} != {sorted(duck_pd.columns)}"
    if len(spark_pd) != len(duck_pd):
        return f"rows {len(spark_pd)} != {len(duck_pd)}"
    a, b = _canonical(spark_pd), _canonical(duck_pd)
    for col in a.columns:
        bad = sum(not _same(x, y) for x, y in zip(a[col].tolist(), b[col].tolist()))
        if bad:
            return f"{bad} value mismatches in {col}"
    return None
