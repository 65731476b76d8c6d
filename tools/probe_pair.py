"""Triage helper: run statements through BOTH the PG front door and
DuckDB, printing raw values side by side (stdin: one statement per
line, or argv[1] a file). Used to classify pg_regress_probe DISAGREEs
into real dialect bugs vs DuckDB-as-oracle artifacts."""
from __future__ import annotations

import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from gpdb_spark.session import get_spark  # noqa: E402
from gpdb_spark.dialect import pg_sql  # noqa: E402


def main() -> None:
    stmts = [
        ln.strip()
        for ln in (open(sys.argv[1]) if len(sys.argv) > 1 else sys.stdin)
        if ln.strip() and not ln.strip().startswith("--")
    ]
    spark = get_spark()
    con = duckdb.connect()
    for s in stmts:
        print(f"\n== {s}")
        try:
            print("  duck:", con.sql(s).fetchall())
        except Exception as e:
            print("  duck ERR:", str(e).splitlines()[0][:160])
        try:
            print("  eng :", [tuple(r) for r in pg_sql(spark, s).collect()])
        except Exception as e:
            print("  eng  ERR:", str(e).splitlines()[0][:160])


if __name__ == "__main__":
    main()
