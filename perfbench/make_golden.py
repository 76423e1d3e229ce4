"""Regenerate golden.json: one record per workload query, from DuckDB.

    python3 perfbench/make_golden.py

Runs each query's `registry.oracle_sql()` on DuckDB over the
benchmark's data and stores its row count, sorted column names and
`digest.result_digest`. Queries without an oracle get the rows-only
check (`oracle.compare` applies the same rule). Run it from the root of
a checkout after a workload or the data changes.
"""

from __future__ import annotations

import json
import sys

from digest import result_record
from workloads import DATA_DIR, GOLDEN_PATH, ROOT, WORKLOADS


def main() -> int:
    sys.path.insert(0, ROOT)
    from data_framework_spark.oracle import duckdb_connection
    from data_framework_spark.registry import oracle_sql

    oracles = oracle_sql()
    names = sorted({n for names in WORKLOADS.values() for n in names})
    con = duckdb_connection(DATA_DIR)
    out = {}
    for name in names:
        if name not in oracles:
            out[name] = {"rows_only": True}
            continue
        res = con.execute(oracles[name])
        cols = [d[0] for d in res.description]
        out[name] = result_record(res.fetchall(), cols)
        print(name, out[name]["rows"], file=sys.stderr)
    with open(GOLDEN_PATH, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
