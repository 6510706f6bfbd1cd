"""Regenerate ``batch_hashes.json``: the DuckDB-oracle answer of every
``batch`` query over the generated batch tables, as (rows, hash) in the
``tools/check.py`` convention.  No Spark session is started.

    python3 perfbench/make_hashes.py      # from the repository root
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import duckdb  # noqa: E402

from workloads import BATCH_GROUPS, BATCH_SF, HASHES_PATH, frame_hash, make_batch_data  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events",
          "documents", "embeddings"]


def main() -> int:
    from etl_healthcare_spark.plans.registry import REGISTRY

    data = os.path.join(HERE, ".work", "hash_data")
    shutil.rmtree(data, ignore_errors=True)
    make_batch_data(ROOT, data)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    hashes = {}
    for names in BATCH_GROUPS.values():
        for q in names:
            hashes[q] = list(frame_hash(con.execute(REGISTRY[q].sql).df()))
            print(q, *hashes[q])
    with open(HASHES_PATH, "w") as f:
        json.dump({"generator": "tools/gen_testdata.py", "sf": BATCH_SF, "hashes": hashes}, f, indent=1)
        f.write("\n")
    shutil.rmtree(data)
    return 0


if __name__ == "__main__":
    sys.exit(main())
