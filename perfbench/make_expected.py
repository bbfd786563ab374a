"""Regenerate ``expected.json``: the DuckDB oracle's digest of every query a
read workload runs, over the benchmark's generated inputs.

    python3 perfbench/make_expected.py

Run it from the repository root after changing ``datagen.py`` or a read
workload's query list. The oracle is the engine's own ``oracle_sql()``;
DuckDB needs a minute or so, mostly for ``dedup_groups``.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import __spark_entry__  # noqa: E402

import datagen  # noqa: E402
from digest import result_digest  # noqa: E402
from workloads import READ_WORKLOADS  # noqa: E402


def main() -> None:
    data = os.path.join(HERE, ".work", "expected-data")
    shutil.rmtree(data, ignore_errors=True)
    counts = datagen.write_tables(data)
    con = duckdb.connect()
    for table in counts:
        con.execute(
            f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{data}/{table}.parquet')"
        )
    oracle = __spark_entry__.oracle_sql()
    digests = {}
    for name in sorted({q for qs in READ_WORKLOADS.values() for q in qs}):
        res = con.execute(oracle[name])
        digests[name] = result_digest([d[0] for d in res.description], res.fetchall())
        print(name, digests[name], flush=True)
    shutil.rmtree(data, ignore_errors=True)
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump({"data_seed": datagen.DATA_SEED, "rows": counts, "digests": digests},
                  f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
