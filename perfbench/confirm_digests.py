#!/usr/bin/env python3
"""Cross-checks the query outputs behind the stored digests against DuckDB.

    python3 perfbench/run.py --workload ops_jobs --seed 0 --seconds 1 --trace 0 --export <dir>
    python3 perfbench/confirm_digests.py <dir> perfbench/data/sf0.01

The export writes each mix query's Spark output as parquet, its oracle SQL
(`graft.SparkEntry.oracleSql`) as <dir>/oracle_sql.json, and the Spark
digest of each output as <dir>/digests.json. This script runs each oracle
SQL in DuckDB over the same input tables and compares the two outputs the
way tools/oracle_compare_big.py does: column names must match, then
count(*) and an order-independent sum of row hashes (doubles rounded to 9
decimals) must agree. A query that agrees has a Spark digest worth
storing; the script prints those digests as the JSON object that
perfbench/data/expected_<scale>.json holds.
"""
import glob
import json
import os
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def digest(con, rel, src):
    types = dict(zip(rel.columns, [str(t) for t in rel.types]))
    exprs = [f'round("{c}", 9)' if types[c] in ("FLOAT", "DOUBLE") else f'"{c}"'
             for c in sorted(rel.columns)]
    return con.execute(f"select count(*), sum(hash({', '.join(exprs)})) from ({src})").fetchone()


def main():
    outdir, sfdir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        path = f"{sfdir}/{t}.parquet"
        if os.path.exists(path):
            con.execute(f"create view {t} as select * from read_parquet('{path}')")
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    spark_digests = json.load(open(f"{outdir}/digests.json"))
    confirmed, failures = {}, 0
    for name in sorted(oracle):
        files = glob.glob(f"{outdir}/{name}/*.parquet")
        src = f"select * from read_parquet({files!r})"
        spark_rel, oracle_rel = con.sql(src), con.sql(oracle[name])
        if sorted(spark_rel.columns) != sorted(oracle_rel.columns):
            print(f"{name}: COLUMN MISMATCH oracle={sorted(oracle_rel.columns)} spark={sorted(spark_rel.columns)}",
                  file=sys.stderr)
            failures += 1
            continue
        s, o = digest(con, spark_rel, src), digest(con, oracle_rel, oracle[name])
        if s != o:
            print(f"{name}: MISMATCH spark={s} duckdb={o}", file=sys.stderr)
            failures += 1
            continue
        print(f"{name}: OK rows={s[0]}", file=sys.stderr)
        confirmed[name] = spark_digests[name]
    print(json.dumps(confirmed, indent=2, sort_keys=True))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
