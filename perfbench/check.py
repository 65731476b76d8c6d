"""Order-insensitive result hashes, so every op's output can be checked.

Rows are canonicalised as ``tools/driver_sim.norm`` does (columns sorted
by lower-cased name, NaN as 'NaN', rows sorted) and then hashed. Numbers
are compared by value, as Python's ``==`` compares them there: an int, a
float and a Decimal holding the same value hash alike.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math
import os


def _canon(v) -> str:
    if v is None:
        return "None"
    if isinstance(v, bool):
        return repr(v)
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, (int, float, decimal.Decimal)):
        if isinstance(v, float) and math.isinf(v):
            return repr(v)
        d = decimal.Decimal(v)
        return "0" if d == 0 else format(d.normalize(), "f")
    if isinstance(v, datetime.datetime):
        return "ts:" + v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return "d:" + v.isoformat()
    return repr(v)


def result_hash(rows, cols) -> str:
    """sha256 of the canonical, order-insensitive image of a result."""
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    lines = sorted("\x1f".join(_canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\x1e".join(sorted(c.lower() for c in cols)).encode())
    h.update(b"\x1d")
    h.update("\x1e".join(lines).encode())
    return f"{len(lines)}:{h.hexdigest()[:32]}"


def rows_hash(rows) -> str:
    """Hash of a result compared by position, for statements whose text
    differs between the engine and its DuckDB mirror."""
    return result_hash(rows, [f"{i:04d}" for i in range(len(rows[0]) if rows else 0)])


def duckdb_con(fixture_dir: str):
    """DuckDB connection with every fixture table registered as a view."""
    import duckdb

    con = duckdb.connect()
    for f in sorted(os.listdir(fixture_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-len('.parquet')]} AS SELECT * FROM "
                        f"read_parquet('{fixture_dir}/{f}')")
    return con


def duckdb_hash(con, sql: str) -> str:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return result_hash(cur.fetchall(), cols)
