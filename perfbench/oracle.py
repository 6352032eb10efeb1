#!/usr/bin/env python3
"""Runs an oracle SQL query in DuckDB over a directory of generated parquet
tables (one `<table>.parquet` directory per table, exposed as a view of the
same name) and writes the rows as a JSON list of objects.

Usage: python3 perfbench/oracle.py <data dir> <query.sql> <out.json>
"""
import json
import os
import sys

import duckdb


def main():
    data, sql_file, out = sys.argv[1:4]
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(f"SET temp_directory = '{os.path.dirname(os.path.abspath(out))}/duckdb-tmp'")
    for entry in sorted(os.listdir(data)):
        if entry.endswith(".parquet"):
            table = entry[: -len(".parquet")]
            path = os.path.join(data, entry, "*.parquet")
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
    cur = con.execute(open(sql_file).read())
    cols = [d[0] for d in cur.description]
    rows = [dict(zip(cols, r)) for r in cur.fetchall()]
    with open(out, "w") as fh:
        json.dump(rows, fh)


if __name__ == "__main__":
    main()
