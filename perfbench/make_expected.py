#!/usr/bin/env python3
"""Regenerates perfbench/expected/catalog_sf0.1.json: the DuckDB oracle's
result hash for every catalog-workload query over perfbench/data/sf0.1.

Usage, from the root of a checkout:  python3 perfbench/make_expected.py

The oracle SQL comes from the engine (SparkEntry.oracleSql); the fixture
tables are registered as views the way scripts/oracle_check.py does.
"""
import json
import os
import shutil

import run

TABLES = [f[:-len(".parquet")] for f in sorted(os.listdir(run.DATA)) if f.endswith(".parquet")]


def main():
    run.build()
    tmp = os.path.join(run.ROOT, ".bench_build", "runs", f"oracle-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    try:
        lines = run.run_java("perfbench.OracleSql", [], tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if lines is None:
        run.fail("could not read the oracle SQL")
    sqls = json.loads(lines[-1])
    con = run.duck()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{run.DATA}/{t}.parquet')")
    out = {"fixture": "sf0.1", "queries": {q: run.result_hash(con, sql) for q, sql in sqls.items()}}
    os.makedirs(os.path.dirname(run.EXPECTED), exist_ok=True)
    with open(run.EXPECTED, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    for q, v in sorted(out["queries"].items()):
        print(f"{q}: {v['rows']} rows")


if __name__ == "__main__":
    main()
