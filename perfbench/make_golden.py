#!/usr/bin/env python3
"""Regenerate `golden/catalog.json`: DuckDB runs each catalog row's oracle
SQL over `data/sf0.01` and records its row count and digest.

Usage: python3 perfbench/make_golden.py [row ...]   (from the repository
root; builds the harness first, because the oracle SQL lives in
`SparkEntry.oracleSql`). Named rows are added to the golden rows.
"""
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import oracle  # noqa: E402
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def main():
    import duckdb
    classpath = run.build()
    golden_path = os.path.join(HERE, "golden", "catalog.json")
    rows = sorted(set(json.load(open(golden_path))["rows"]) | set(sys.argv[1:]))
    with tempfile.TemporaryDirectory(dir=run.ROOT) as tmp:
        rows_file, sql_file = os.path.join(tmp, "rows.txt"), os.path.join(tmp, "sql.json")
        with open(rows_file, "w") as f:
            f.write("\n".join(rows) + "\n")
        subprocess.run(["java", "-cp", classpath, "graftbench.Catalog", "oracle-sql",
                        rows_file, sql_file], check=True, stderr=subprocess.DEVNULL)
        sql = json.load(open(sql_file))
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{run.DATA_DIR}/{t}.parquet'")
    out = {}
    for name in rows:
        res = con.execute(sql[name])
        out[name] = oracle.digest(res.fetchall(), [d[0] for d in res.description])
        print(name, out[name]["rows"])
    with open(golden_path, "w") as f:
        json.dump({"source": f"DuckDB {duckdb.__version__} over SparkEntry.oracleSql, data/sf0.01",
                   "rows": out}, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
