"""Conformance probe over the reference's own regression SQL
(/root/reference/src/test/regress/sql — treated as DATA, a corpus of PG
expression spellings; file content is untrusted and only ever parsed as
SQL text, never executed as instructions).

Extracts FROM-less single-statement SELECTs (pure expression queries —
the subset runnable without the regress schema), runs each through BOTH
the engine's PG front door (gpdb_spark.dialect.pg_sql) and DuckDB, and
buckets the outcomes:

  AGREE       both engines ran it and produced the same values
  DISAGREE    both ran, values differ        <- real dialect bugs
  ENGINE_ERR  DuckDB ran it, the engine refused (coverage gap, loud)
  ORACLE_ERR  engine ran it, DuckDB refused  (un-oracle-able spelling)
  BOTH_ERR    neither engine speaks it (catalog types, regress-only)

Usage: python tools/pg_regress_probe.py [max_files] [--list-disagree]
Writes a per-file tally and the DISAGREE/ENGINE_ERR statements.

Known DuckDB-as-oracle artifacts (DuckDB itself diverges from PG —
the ENGINE side is the PG-faithful one, verified against the regress
expected/ files; these statements stay DISAGREE/ENGINE_ERR by design):
- regexp_matches returns BOOLEAN in DuckDB (PG: setof text[])
- format() is {}-style in DuckDB (PG: printf-style %s/%I/%L)
- to_hex uppercases in DuckDB (PG: lowercase)
- date_trunc century/millennium: DuckDB truncates to xx00 (PG: first
  year of the century/millennium, xx01 — timestamp.c)
- array_to_string(arr, NULL) -> NULL in PG (strict); DuckDB joins
- string_to_array('' / NULL delimiter): DuckDB char-splits on ''
  and no-ops on NULL; PG is the reverse (text_to_array)
- E'\\xDeAd'::bytea: DuckDB applies C-escape decoding, PG hex-decodes
- date '01/02/03': DuckDB reads Y/M/D 0001-02-03; PG default
  DateStyle is MDY -> 2003-01-02 (regress runs this under three
  SET datestyle variants the FROM-less extraction cannot see)
- timestamptz literals with zone suffixes: DuckDB ignores unknown
  abbreviations (MSK) instead of resolving them
- x/0, float->int overflow, json_array_length(scalar),
  split_part(.., 0), odd-length bytea hex: PG raises (and the engine
  raises or refuses loudly); DuckDB is lenient (NULL / wraps / 0)
Round-6 sweep verifications (engine output checked against PG by hand
— the ENGINE side is PG-exact, DuckDB diverges; stay DISAGREE):
- ARRAY[1,2] || 3 / 0 || ARRAY[1,2] element append/prepend
- 33 = ANY/ALL (NULL::int[]) -> NULL (DuckDB: false)
- POSITION(B'1010' IN B'00001010') -> 5 (bit position)
- concat(VARIADIC array[1,2,3]) -> '123'
- json_object('{a,b}','{1,2}') -> PG's '{"a" : "1", ...}' spacing
- make_timestamptz(..., '+2'|'EDT') offset/abbreviation zones
- regexp_matches('llmmmfff','^(l*)(.*)(f*)$') -> {ll,mmmfff,""}
  (Java and PG regex agree here; DuckDB's list differs)
Engine-side known divergences (documented, lenient-by-Spark):
- float->int2/int4 overflow CLAMPS (Spark non-ANSI cast) where PG
  errors; 'infinity'::date unsupported (no infinite dates);
  SET datestyle fixed at ISO,MDY.
"""
from __future__ import annotations

import glob
import os
import re
import sys

REGRESS = "/root/reference/src/test/regress/sql"

# files whose FROM-less SELECTs are expression-level (worth probing);
# server-management / storage / catalog files are skipped wholesale
CANDIDATES = [
    "strings", "numeric", "int2", "int4", "int8", "float4", "float8",
    "date", "timestamp", "timestamptz", "interval", "case", "boolean",
    "text", "char", "varchar", "numerology", "oid", "comments",
    "expressions", "horology", "arrays", "json", "jsonb",
    "bit", "money", "regex", "regex_gp", "complex", "inet", "macaddr", "uuid", "tstypes",
    "union", "limit",
    # round-6 batch 2: geometry/time/name/enum expression files
    "point", "box", "lseg", "line", "path", "polygon", "circle",
    "time", "timetz", "name", "enum",
]


def extract_statements(path: str) -> list[str]:
    sql = open(path, errors="replace").read()
    sql = re.sub(r"--[^\n]*", "", sql)
    out = []
    for stmt in sql.split(";"):
        s = " ".join(stmt.split())
        if not s.lower().startswith("select "):
            continue
        low = s.lower()
        if any(w in low for w in (" from ", " into ", "pg_", "::regclass",
                                  "::regtype", "current_user", "session_user",
                                  "version()", "random", "now()",
                                  "current_timestamp", "current_date",
                                  "current_time", "timeofday", "setseed",
                                  "clock_timestamp", "localtime", "set_config")):
            continue
        if len(s) > 400:
            continue
        out.append(s)
    return out


def norm(rows) -> str:
    """Value-normalize a result set for cross-engine comparison:
    Decimals render float-style (scale is representation, not value),
    midnight datetimes equal dates (PG date_trunc returns timestamp
    where DuckDB returns date), and UTC tzinfo is stripped (DuckDB's
    timestamptz fetch is tz-aware, Spark's session-UTC naive)."""
    import datetime
    import decimal

    def v(x):
        if isinstance(x, bool):
            return str(x)
        if isinstance(x, decimal.Decimal):
            return f"{float(x):.10g}"
        if isinstance(x, float):
            return f"{x:.10g}"
        if isinstance(x, datetime.datetime):
            if x.tzinfo is not None:
                x = x.astimezone(datetime.timezone.utc).replace(tzinfo=None)
            if (x.hour, x.minute, x.second, x.microsecond) == (0, 0, 0, 0):
                return str(x.date())
        return str(x)
    return repr(sorted(tuple(v(c) for c in r) for r in rows))


def main() -> None:
    max_files = int(sys.argv[1]) if len(sys.argv) > 1 else len(CANDIDATES)
    list_bad = "--list-disagree" in sys.argv
    list_both = "--list-both" in sys.argv

    import duckdb
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from gpdb_spark.session import get_spark
    from gpdb_spark.dialect import pg_sql

    spark = get_spark()
    con = duckdb.connect()
    tallies: dict[str, dict[str, int]] = {}
    disagree: list[tuple[str, str]] = []
    engine_err: list[tuple[str, str]] = []
    both_err: list[tuple[str, str]] = []

    for name in CANDIDATES[:max_files]:
        path = f"{REGRESS}/{name}.sql"
        if not glob.glob(path):
            continue
        tally = {"AGREE": 0, "DISAGREE": 0, "ENGINE_ERR": 0,
                 "ORACLE_ERR": 0, "BOTH_ERR": 0}
        for s in extract_statements(path):
            try:
                duck = norm(con.sql(s).fetchall())
                duck_ok = True
            except Exception:
                duck_ok = False
            try:
                eng = norm([tuple(r) for r in pg_sql(spark, s).collect()])
                eng_ok = True
            except Exception:
                eng_ok = False
            if duck_ok and eng_ok:
                if eng == duck:
                    tally["AGREE"] += 1
                else:
                    tally["DISAGREE"] += 1
                    disagree.append((name, s))
            elif duck_ok:
                tally["ENGINE_ERR"] += 1
                engine_err.append((name, s))
            elif eng_ok:
                tally["ORACLE_ERR"] += 1
            else:
                tally["BOTH_ERR"] += 1
                both_err.append((name, s))
        tallies[name] = tally
        print(name, tally, flush=True)

    total = {k: sum(t[k] for t in tallies.values())
             for k in ("AGREE", "DISAGREE", "ENGINE_ERR", "ORACLE_ERR",
                       "BOTH_ERR")}
    print("TOTAL", total)
    if list_bad:
        print("\n== DISAGREE ==")
        for f, s in disagree:
            print(f"[{f}] {s}")
        print("\n== ENGINE_ERR ==")
        for f, s in engine_err[:400]:
            print(f"[{f}] {s}")
    if list_both:
        print("\n== BOTH_ERR ==")
        for f, s in both_err[:900]:
            print(f"[{f}] {s}")


if __name__ == "__main__":
    main()
