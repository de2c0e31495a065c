"""The benchmark's inputs.

The standing data is the repository's TPC-H-shaped test data (customer,
orders, documents), checked in byte for byte under `data/sf<sf>/`. A run
copies it into its own scratch directory, so insert batches land in a
copy and never in the checked-in files; the stored DuckDB digests
(digests.json) are computed over exactly these files.

The per-run `--seed` drives everything else (anchors, seed sets, insert
batches, query terms, op order) through `random.Random(seed)` in the
workloads. Insert batches follow the standing orders' shape: order keys
continue the standing table's dense key range, customers are drawn
uniformly (as in the standing table, 1-25 orders per customer, mean 10),
and the other columns are copied from randomly chosen standing rows.

The derived graph is the one `entry_queries.EDGES_SQL` defines:
src = o_custkey, dst = o_orderkey % |customer|.
"""

from __future__ import annotations

import os
import random
import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
TABLES = ["customer", "orders", "documents"]


def standing_dir(sf: float) -> str:
    return os.path.join(DATA_DIR, f"sf{sf:g}")


def available_sizes() -> list[float]:
    return sorted(float(d[2:]) for d in os.listdir(DATA_DIR) if d.startswith("sf"))


def write_dataset(out_dir: str, sf: float) -> dict:
    """Copy the standing customer/documents files into `out_dir`, and
    orders as `orders.parquet/part-0.parquet` so insert batches can land
    beside it; returns the row counts."""
    src = standing_dir(sf)
    os.makedirs(os.path.join(out_dir, "orders.parquet"), exist_ok=True)
    for t in TABLES:
        dst = os.path.join(out_dir, "orders.parquet", "part-0.parquet") if t == "orders" \
            else os.path.join(out_dir, f"{t}.parquet")
        shutil.copyfile(os.path.join(src, f"{t}.parquet"), dst)
    return {t: pq.read_metadata(os.path.join(src, f"{t}.parquet")).num_rows for t in TABLES}


def vocabulary(documents_path: str) -> list[str]:
    """The distinct words of a documents file, sorted."""
    text = pq.read_table(documents_path, columns=["text"])
    words = pc.unique(pc.list_flatten(pc.split_pattern(text["text"], " "))).to_pylist()
    return sorted(w for w in words if w)


def write_order_batch(path: str, template_path: str, rng: random.Random,
                      first_key: int, count: int, n_cust: int) -> None:
    """One insert batch: `count` new orders (new edges) as one parquet
    file, keys first_key.., other columns from random rows of
    `template_path`."""
    base = pq.read_table(template_path)
    rows = base.take([rng.randrange(base.num_rows) for _ in range(count)])
    key_type = base.schema.field("o_orderkey").type
    cust_type = base.schema.field("o_custkey").type
    rows = rows.set_column(rows.schema.get_field_index("o_orderkey"), "o_orderkey",
                           pa.array(range(first_key, first_key + count), key_type))
    rows = rows.set_column(rows.schema.get_field_index("o_custkey"), "o_custkey",
                           pa.array([rng.randrange(n_cust) for _ in range(count)], cust_type))
    pq.write_table(rows, path)
