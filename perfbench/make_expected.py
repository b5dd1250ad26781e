"""Derive the stored expected results of the registry workloads.

Runs each entry's ``QueryDef.oracle`` in DuckDB over the benchmark's own
copy of the sf0.1 tables and adds every entry ``expected.json`` lacks
(row count and order-insensitive hash per entry); delete the file to
derive everything again.  Several corpus oracles take more than
a minute each at sf0.1, which is why this runs offline and not per run.

Usage, from the repository root:  python3 perfbench/make_expected.py
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> None:
    sys.path[:0] = [ROOT, HERE]
    from workloads import DATA_DIR, REGISTRY_WORKLOADS

    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = DATA_DIR
    import duckdb

    from arrow_ballista_spark.catalog import ALL_TABLES
    from arrow_ballista_spark.queries import load_all
    from check import EXPECTED_PATH, load_expected, value_hash

    reg = load_all()
    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    for t in ALL_TABLES:
        path = os.path.join(DATA_DIR, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    try:
        out = load_expected()
    except FileNotFoundError:
        out = {}
    for workload, names in REGISTRY_WORKLOADS.items():
        for name in names:
            if name in out:
                continue
            oracle = reg[name].oracle
            if oracle is None:
                raise SystemExit(f"{name} has no oracle; pick another entry")
            t0 = time.monotonic()
            cur = con.execute(oracle)
            cols = [d[0] for d in cur.description]
            rows = cur.fetchall()
            n = len(rows)
            out[name] = {"rows": n, "hash": value_hash(cols, rows)}
            print(f"{workload} {name}: {n} rows "
                  f"{time.monotonic() - t0:.1f}s", flush=True)
            # flushed per entry: the slowest oracles take many minutes
            with open(EXPECTED_PATH, "w") as f:
                json.dump(out, f, indent=1, sort_keys=True)
                f.write("\n")


if __name__ == "__main__":
    main()
