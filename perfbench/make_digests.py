"""Regenerate ``digests.json``: the expected row count and order-insensitive
value hash of each registry query the benchmark times, computed from the
query's DuckDB oracle (``registry.oracle_sql()``) over the benchmark's
generated tables. Run it when the generated tables or the query list change:

    python3 perfbench/make_digests.py
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

import inputs  # noqa: E402
import workloads  # noqa: E402
from sparksent.registry import oracle_sql  # noqa: E402


def main() -> None:
    tables = os.path.join(ROOT, ".perfbench_work", "digest_tables")
    inputs.write_registry_tables(tables)
    con = duckdb.connect()
    for name in inputs.REGISTRY_TABLES:
        path = os.path.join(tables, f"{name}.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    sql = oracle_sql()
    out = {}
    for name in workloads.Registry.PYTHON + workloads.Registry.JVM:
        out[name] = workloads.digest(con.execute(sql[name]).fetchdf())
        print(name, out[name], file=sys.stderr)
    con.close()
    shutil.rmtree(tables, ignore_errors=True)
    with open(os.path.join(HERE, "digests.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
