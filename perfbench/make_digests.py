"""Recompute digests.json: DuckDB results of the parameter-free ops on the
benchmark's standing data (data/sf*), one set per input size.

    python3 perfbench/make_digests.py

Run it from the root of a checkout after changing the standing data or
one of the oracles named below; the benchmark never computes these digests with
the engine it measures.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# digest name -> entry_queries.ORACLES key
ORACLE_KEYS = {
    "pagerank": "pagerank",
    "wcc": "wcc",
    "communities": "communities",
    "k_core": "k_core",
    "lcc": "lcc",
    "dedup_edit": "dedup_edit",
    "dedup_clusters": "dedup_clusters",
    "pipeline_corpus": "pipeline_corpus",
}
def main() -> int:
    sys.path.insert(0, ROOT)
    import datagen
    from duckpgq_extension_spark import entry_queries as EQ
    from oracle import DIGESTS_PATH, Oracle, digest

    out = {}
    for sf in datagen.available_sizes():
        data_dir = os.path.join(ROOT, ".perfbench_work", f"digests-sf{sf:g}")
        datagen.write_dataset(data_dir, sf)
        o = Oracle(data_dir)
        o.set_orders([os.path.join(data_dir, "orders.parquet", "part-0.parquet")])
        out[f"sf{sf:g}"] = {name: digest(o.rows(EQ.ORACLES[key]))
                            for name, key in ORACLE_KEYS.items()}
        o.close()
        shutil.rmtree(data_dir)
        print(f"sf{sf:g}: {out[f'sf{sf:g}']}", file=sys.stderr)
    with open(DIGESTS_PATH, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
