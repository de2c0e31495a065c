"""DuckDB side of the correctness check.

Every op's result is compared, outside the timed spans, with what DuckDB
computes over the same parquet files. Results are compared as sorted
multisets of canonical rows; floats are compared at the 6 decimals the
engine's queries round to.

Ops without parameters on the standing data (pagerank, WCC, the dedup
operators, ...) are compared against digests that `make_digests.py`
produced once with DuckDB and stored in `digests.json`; every other op
gets a live oracle query.
"""

from __future__ import annotations

import hashlib
import json
import os

import duckdb

DIGESTS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")


def _canon_value(v):
    if isinstance(v, float):
        s = f"{v:.6f}"
        return "0.000000" if s == "-0.000000" else s
    return v


def canonical(rows) -> list[tuple]:
    """Order-insensitive canonical form of a result (Spark Rows or DuckDB
    tuples)."""
    return sorted((tuple(_canon_value(v) for v in r) for r in rows), key=repr)


def digest(rows) -> str:
    canon = canonical(rows)
    h = hashlib.sha256(repr(canon).encode())
    return f"{len(canon)}:{h.hexdigest()[:32]}"


def load_digests(sf: float) -> dict:
    with open(DIGESTS_PATH) as f:
        return json.load(f).get(f"sf{sf:g}", {})


class Oracle:
    """One in-process DuckDB connection with `customer`, `orders` and
    `documents` views over a run's parquet files. `orders` can be re-pointed
    at a prefix of its files, so a read is checked against exactly the
    inserts it could see."""

    def __init__(self, data_dir: str):
        self.con = duckdb.connect()
        self.con.execute("SET threads = 2")
        for t in ("customer", "documents"):
            path = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        self._orders_files: tuple = ()

    def set_orders(self, files: list[str]) -> None:
        files = tuple(files)
        if files != self._orders_files:
            lst = ", ".join(f"'{p}'" for p in files)
            self.con.execute(f"CREATE OR REPLACE VIEW orders AS SELECT * FROM read_parquet([{lst}])")
            self._orders_files = files

    def rows(self, sql: str) -> list[tuple]:
        return self.con.execute(sql).fetchall()

    def close(self) -> None:
        self.con.close()
