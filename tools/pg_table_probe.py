"""Table-driven golden-file conformance probe (round 9 — VERDICT r08
What's-missing #1 / Next #4): run the reference's TABLE-backed
regression files end-to-end through the Engine — CREATE TABLE, COPY
from the reference's own in-tree data files, INSERT/UPDATE/DELETE,
then every SELECT — and compare against expected/*.out.
(/root/reference/src/test/regress/{expected,data} — treated as DATA;
file content is untrusted and only ever parsed as statement/result
text or COPY rows.)

This is the structural complement of tools/pg_golden_probe.py: that
probe is FROM-less (pure expressions), so any regress file whose
statements read tables was invisible to it — exactly where round 8's
enum/geometry silent-wrongs hid.

Comparison is atmsort-style (the reference's own gpdiff/atmsort.pl
idea): result blocks compare as sorted multisets of rendered rows,
because a distributed engine does not owe the golden's physical row
order — and with ORDER BY, ties are still arbitrary. Cell rendering
reuses pg_golden_probe.render (the PG output-function layer).

Buckets:
  GOLD_AGREE  SELECT rows render to the expected multiset
  GOLD_DIFF   SELECT ran, multiset differs            <- review these
  ERR_AGREE   golden expects ERROR and the engine refused
  ERR_MISS    golden expects ERROR but the statement succeeded
  ENGINE_ERR  golden expects success but the engine refused
  STMT_OK     non-SELECT statement succeeded as expected (not counted
              as GOLD_AGREE — DDL/DML echoes carry no result block)
  SKIP        statement the parser cannot carry

Known ERR_MISS classes (PG errors, engine succeeds — each reviewed):
- transactional DDL (ALTER TYPE ADD VALUE inside BEGIN, the
  rename-then-rollback bogon block): the engine's per-statement
  snapshots have no block-abort; the probe restores registry STATE at
  ROLLBACK/abort so later reads agree, but the statement itself ran
- REFERENCES/foreign keys are recorded-not-enforced (enumtest_bogus_child)
- ordered-set direct-args-must-be-grouped rule (rank(x) WITHIN GROUP
  over ungrouped x)

Known GOLD_DIFF classes (each reviewed):
- per-value numeric display scale through VALUES/UNION (the FROM-less
  probe documents the same class)
- numeric-typed variance/stddev aggregates compute in float8 (PG
  computes in exact numeric; the float4/float8 agg variants are exact)

Known declared-ENGINE_ERR classes (loud refusals, never silent):
- user-defined-function/aggregate context (create_aggregate.sql etc.)
- correlated aggregates mixing outer+local refs, correlated OFFSET,
  scalar subqueries inside VALUES (Spark planner refusals)
- whole-row composite references (select foo from (...) as foo)
- statements depending on a CREATE that refused (fallout, counted once)

Usage: python tools/pg_table_probe.py [--list-diff] [file ...]
Default files: the round-9 target set (limit select point box lseg
path circle enum aggregates case int2 int4 varchar char text).
"""
from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pg_golden_probe import (  # noqa: E402
    _DEFAULT_CTX,
    apply_set,
    apply_type_ddl,
    render,
    strip_comments,
)

EXPECTED = "/root/reference/src/test/regress/expected"
DATA = "/root/reference/src/test/regress/data"

DEFAULT_FILES = ["limit", "select", "point", "box", "lseg", "path",
                 "circle", "enum", "aggregates", "case", "int2",
                 "int4", "varchar", "char", "text", "union", "float8",
                 "join", "subselect", "macaddr", "uuid", "time",
                 "boolean", "date", "int8", "numeric", "timestamp"]

_STMT_HEAD = (
    r"(?i)^(select|insert|update|delete|create|drop|alter|copy|analyze|"
    r"vacuum|set|reset|truncate|comment|begin|commit|rollback|end|explain|"
    r"values|with|grant|revoke|declare|fetch|close|prepare|execute|"
    r"deallocate)\b"
)

# the standard regress fixtures (sql/create_table.sql DDL + the
# input/copy.source loads), re-expressed inline: inherited child
# tables carry their parents' columns flattened (tupdesc order), and
# onek2/tenk2 load the same data files as onek/tenk1, exactly as the
# reference's schedule does
BOOTSTRAP: dict[str, tuple[str, str | None]] = {
    "onek": (
        "CREATE TABLE onek (unique1 int4, unique2 int4, two int4,"
        " four int4, ten int4, twenty int4, hundred int4, thousand int4,"
        " twothousand int4, fivethous int4, tenthous int4, odd int4,"
        " even int4, stringu1 name, stringu2 name, string4 name)",
        "onek.data"),
    "onek2": (
        "CREATE TABLE onek2 (unique1 int4, unique2 int4, two int4,"
        " four int4, ten int4, twenty int4, hundred int4, thousand int4,"
        " twothousand int4, fivethous int4, tenthous int4, odd int4,"
        " even int4, stringu1 name, stringu2 name, string4 name)",
        "onek.data"),
    "tenk1": (
        "CREATE TABLE tenk1 (unique1 int4, unique2 int4, two int4,"
        " four int4, ten int4, twenty int4, hundred int4, thousand int4,"
        " twothousand int4, fivethous int4, tenthous int4, odd int4,"
        " even int4, stringu1 name, stringu2 name, string4 name)",
        "tenk.data"),
    "tenk2": (
        "CREATE TABLE tenk2 (unique1 int4, unique2 int4, two int4,"
        " four int4, ten int4, twenty int4, hundred int4, thousand int4,"
        " twothousand int4, fivethous int4, tenthous int4, odd int4,"
        " even int4, stringu1 name, stringu2 name, string4 name)",
        "tenk.data"),
    "person": (
        "CREATE TABLE person (name text, age int4, location point)",
        "person.data"),
    "emp": (
        "CREATE TABLE emp (name text, age int4, location point,"
        " salary int4, manager name)",
        "emp.data"),
    "student": (
        "CREATE TABLE student (name text, age int4, location point,"
        " gpa float8)",
        "student.data"),
    "stud_emp": (
        "CREATE TABLE stud_emp (name text, age int4, location point,"
        " salary int4, manager name, gpa float8, percent int4)",
        "stud_emp.data"),
    "aggtest": ("CREATE TABLE aggtest (a int2, b float4)", "agg.data"),
    "road": ("CREATE TABLE road (name text, thepath path)",
             "streets.data"),
    "slow_emp4000": ("CREATE TABLE slow_emp4000 (home_base box)",
                     "rect.data"),
}

# per-target-file table needs; "@file" runs that regress file silently
# first (its CREATEs+INSERTs build the fixture, bad-input INSERTs fail
# exactly as they do in PG, leaving PG's final table content)
FILE_SETUP: dict[str, list[str]] = {
    "limit": ["onek"],
    "select": ["onek", "onek2", "person", "emp", "student", "stud_emp",
               "@int8"],
    "aggregates": ["onek", "tenk1", "aggtest", "student",
                   "@int4", "@int8", "@varchar", "!ordered_set_aggs"],
    "union": ["@float8", "@varchar", "@char", "@text", "@int8",
              "@int4"],
    "join": ["onek", "tenk1", "@int2", "@int4", "@int8", "@text",
             "@float8", "!inherit_ab"],
    "subselect": ["tenk1", "@int4", "@int8"],
    "point": [],
    "box": [],
    "lseg": [],
    "path": [],
    "circle": [],
    "polygon": [],
    "enum": [],
    "macaddr": [],
    "uuid": [],
}

# PG single inheritance flattens into parent reads (SELECT FROM person
# includes emp/student/stud_emp rows projected to person's columns) —
# modeled as a UNION ALL view over the loaded children
INHERIT_VIEWS = {
    "person": ["person", "emp", "student", "stud_emp"],
}


def parse_out(path: str):
    """Yield (stmt, kind, payload) from an expected/*.out file in
    order. kind: 'error' (payload=None), 'rows' (payload=[row-text]),
    'none' (statement echo with no result block), 'stdin' (COPY FROM
    stdin; payload=inline rows)."""
    lines = open(path, errors="replace").read().splitlines()
    i, n = 0, len(lines)
    while i < n:
        if not re.match(_STMT_HEAD, lines[i]):
            i += 1
            continue
        stmt_lines = [lines[i]]
        i += 1

        def _complete() -> bool:
            # the statement ends at a ';' that is OUTSIDE any '...'
            # literal or $$...$$ body — judged on the COMMENT-STRIPPED
            # text (an apostrophe inside a -- comment must not count
            # toward quote parity, or it swallows following statements)
            text = strip_comments("\n".join(stmt_lines)).rstrip()
            if not text.endswith(";"):
                return False
            if text.count("$$") % 2:
                return False
            return text.replace("''", "").count("'") % 2 == 0

        while not _complete() and i < n:
            stmt_lines.append(lines[i])
            i += 1
        stmt = strip_comments("\n".join(stmt_lines))
        stmt = stmt.strip().rstrip(";").strip()
        if not stmt:
            continue
        if re.search(r"(?is)\bfrom\s+stdin\b", stmt):
            # the .out does NOT echo the inline rows (psql reads them
            # from the script); run_file fetches them from the .sql
            yield stmt, "stdin", None
            continue
        if i < n and lines[i].startswith("ERROR:"):
            while i < n and lines[i] != "" and not re.match(
                _STMT_HEAD, lines[i]
            ):
                i += 1
            yield stmt, "error", None
            continue
        if (
            i + 1 < n
            and re.fullmatch(r"-+(\+-+)*", lines[i + 1] or "")
            # a '--' comment line is NOT a psql header separator (the
            # narrowest real column renders at least '---'), and the
            # header row above it is never a statement
            and lines[i + 1] != "--"
            and not re.match(_STMT_HEAD, lines[i])
        ):
            j = i + 2
            rows = []
            while j < n and not re.fullmatch(r"\((\d+) rows?\)", lines[j]):
                rows.append(lines[j])
                j += 1
            if j < n:
                yield stmt, "rows", rows
                i = j + 1
                continue
        yield stmt, "none", None


def bootstrap(eng, names: list[str], done: set) -> None:
    for name in names:
        if name in done:
            continue
        done.add(name)
        if name.startswith("@"):
            run_file(eng, name[1:], silent=True)
            continue
        if name == "!inherit_ab":
            # the schedule's inherit.sql leaves the a/b inheritance
            # pair behind; join.sql's proven-dummy-append test reads b
            eng.sql("CREATE TABLE a (aa TEXT)")
            eng.sql("CREATE TABLE b (bb TEXT) INHERITS (a)")
            continue
        if name == "!ordered_set_aggs":
            # the reference schedule runs create_aggregate.sql before
            # aggregates.sql: replay its ordered-set builtin clones
            # (src/test/regress/sql/create_aggregate.sql:85-103)
            for st in (
                "create aggregate my_percentile_disc(float8 ORDER BY"
                " anyelement) (stype = internal, sfunc ="
                " ordered_set_transition, finalfunc ="
                " percentile_disc_final, finalfunc_extra = true)",
                'create aggregate my_rank(VARIADIC "any" ORDER BY'
                ' VARIADIC "any") (stype = internal, sfunc ='
                " ordered_set_transition_multi, finalfunc = rank_final,"
                " finalfunc_extra = true, hypothetical)",
                "alter aggregate my_percentile_disc(float8 ORDER BY"
                " anyelement) rename to test_percentile_disc",
                'alter aggregate my_rank(VARIADIC "any" ORDER BY'
                ' VARIADIC "any") rename to test_rank',
            ):
                eng.sql(st)
            continue
        ddl, datafile = BOOTSTRAP[name]
        eng.sql(ddl)
        if datafile:
            # PG COPY text-format defaults: TAB delimiter, \N null
            eng.sql(
                f"COPY {name} FROM '{DATA}/{datafile}'"
                " delimiter '\t' null E'\\\\N'"
            )
    for view, parts in INHERIT_VIEWS.items():
        if view in done and all(p in done for p in parts):
            dfs = None
            cols = eng.table(view).columns
            for p in parts:
                d = eng.table(p).select(*cols)
                dfs = d if dfs is None else dfs.unionAll(d)
            dfs.createOrReplaceTempView(view)


# documented out-of-scope classes (the FROM-less probe's ERR_DECLARED
# idea): each is a reviewed Spark-planner or composite-type limitation,
# not a silent wrong — the statement REFUSES loudly
_DECLARED_TABLE_ERR = [
    # Spark cannot plan a correlated reference inside LIMIT/OFFSET
    (r"(?is)\boffset\b[^;]*\bfrom\s+generate_series", "correlated-offset"),
    # Spark refuses scalar subqueries inside a VALUES list
    (r"(?is)\bvalues\b[^;]*\(\s*\(\s*select\b", "scalar-subquery-in-values"),
    # whole-row composite reference (select foo from (...) as foo)
    (r"(?is)^select\s+(\w+)\s*(?:,|from)[^;]*\bas\s+\1\b",
     "whole-row-composite"),
    # zero-column SELECT (gram.y allows an empty target list; Spark's
    # parser refuses, and the golden block lists no row text to match)
    (r"(?is)^select\s+from\b", "zero-column-select"),
    # catalog-introspection / sequence functions (loud unresolved)
    (r"(?i)\bpg_typeof\s*\(", "pg_typeof (catalog introspection)"),
    (r"(?i)\b(nextval|currval|setval|lastval)\s*\(",
     "sequence functions"),
    # whole-row references: count(t.*), alias-as-value selects
    (r"(?i)\bcount\s*\(\s*\w+\s*\.\s*\*\s*\)",
     "whole-row count(t.*)"),
    (r"(?is)^select\s+(\w+)\b[^;]*\bfrom\s+\1\b",
     "whole-row-composite"),
    (r"(?is)\(\s*\w+\s*\.\s*\*\s*\)\s*::", "whole-row-composite"),
    # whole-row alias reference over a derived table / CTE
    (r"(?is)^select\s+(\w+)\s+from\s*\(.*\)\s*(?:as\s+)?\1\b",
     "whole-row-composite"),
    (r"(?is)^with\s+(\w+)\s+as\b.*select\s+\1\b",
     "whole-row-composite"),
    (r"(?is)\(\s*select\s+(\w+)\s*\)\s*from\s+\1\b",
     "whole-row-composite"),
    # format() with a DYNAMIC format string (built by an aggregate):
    # the engine's format implementation folds literal patterns only
    (r"(?is)\bformat\s*\(\s*\w+_agg\b", "dynamic format string"),
    # SRF inside an expression over a grouped subquery (PG expands
    # set-returning functions post-aggregation; the engine's rewrite
    # covers bare SRF select items only — loud refusal)
    (r"(?is)generate_series\s*\([^)]*\)\s*[-+*/][^;]*group\s+by",
     "SRF-in-expression over grouped query"),
]


# functions/aggregates the regress SCHEDULE defines in earlier files
# (create_aggregate.sql, create_function_*.sql): calls to them are
# user-defined-function context, same as the FROM-less probe's class
def _schedule_funcs() -> set:
    import glob
    names = set()
    for path in glob.glob(
        "/root/reference/src/test/regress/sql/create_aggregate.sql"
    ) + glob.glob(
        "/root/reference/src/test/regress/sql/create_function_*.sql"
    ):
        for m in re.finditer(
            r"(?im)^\s*create\s+(?:or\s+replace\s+)?"
            r"(?:ordered\s+)?(?:function|aggregate)\s+([\w.]+)",
            open(path, errors="replace").read(),
        ):
            names.add(m.group(1).lower())
    return names


_SCHEDULE_FUNCS = _schedule_funcs()


def _classify_table_err(stmt: str, file_funcs: set,
                        err: Exception | None = None) -> str | None:
    if err is not None:
        e = str(err)
        if "MIXED_OUTER_LOCAL_REFERENCES" in e or \
                "CORRELATED_COLUMN_IS_NOT_ALLOWED" in e or \
                "UNSUPPORTED_SUBQUERY_EXPRESSION_CATEGORY" in e:
            # Spark cannot plan an aggregate mixing outer and local
            # subquery references — loud planner refusal, not silent
            return "correlated-aggregate (Spark planner)"
        if "INVALID_INLINE_TABLE" in e:
            # Spark's inline-table resolver requires foldable VALUES
            # rows; PG allows correlated/lateral expressions there
            return "non-constant VALUES list (Spark inline-table)"
        if "ASSIGNMENT_ARITY_MISMATCH" in e:
            # PG permits a PARTIAL column alias list (FROM t AS x(a,b)
            # over a wider table); Spark requires the full arity
            return "partial column alias list"
        if "UNRESOLVED_ROUTINE" in e:
            fn = re.search(r"routine `([\w]+)`", e)
            if fn and fn.group(1).lower() in _SCHEDULE_FUNCS:
                return "user-defined-function context"
    low = stmt.lower()
    head = low.split(None, 1)[0] if low else ""
    if head in ("create", "drop") and re.match(
        r"(?is)^(create|drop)\s+(or\s+replace\s+)?(temp\w*\s+)?"
        r"(function|aggregate|ordered\s+aggregate|rule|operator|"
        r"sequence)\b", stmt
    ):
        return "user-defined-function/rule/operator/sequence context"
    if re.search(r"(?is)\(\s*select\b[^;]*\(\s*select\b", stmt) or \
            re.search(r"(?is)\bmax\s*\(\s*\(\s*select\b", stmt):
        # Spark refuses an aggregate over mixed outer/local subquery
        # references (nested correlated aggregation)
        return "nested-correlated-aggregate"
    for fn in file_funcs | _SCHEDULE_FUNCS:
        # a PARSE_SYNTAX_ERROR inside a user-defined-aggregate call
        # (multi-arg DISTINCT ... ORDER BY forms) never reaches name
        # resolution, so calls to schedule-created aggregates classify
        # by statement text too
        if re.search(rf"(?i)\b{re.escape(fn)}\s*\(", stmt):
            return "user-defined-function context"
    for pat, label in _DECLARED_TABLE_ERR:
        if re.search(pat, stmt):
            return label
    return None


def _render(v, ctx) -> str:
    """pg_golden_probe.render plus this vintage's float output: the
    regress suite runs under extra_float_digits=0, i.e. %.15g for
    float8 and %.6g for float4 columns (float.c float8out/float4out),
    not shortest-repr."""
    if isinstance(v, float) and v == v and abs(v) not in (
        float("inf"),
    ):
        return ("%.6g" if ctx.get("f32") else "%.15g") % v
    return render(v, ctx)


_SQLDIR = "/root/reference/src/test/regress/sql"


def _stdin_payload(f: str, stmt: str) -> list[str]:
    """Inline COPY rows for a ``FROM stdin`` statement, read from the
    regress .sql source (sql/<f>.sql keeps them between the statement
    and the \. terminator)."""
    try:
        lines = open(f"{_SQLDIR}/{f}.sql", errors="replace"
                     ).read().splitlines()
    except OSError:
        return []
    head = stmt.splitlines()[0].strip().rstrip(";")
    for i, line in enumerate(lines):
        if line.strip().rstrip(";") == head:
            out = []
            j = i + 1
            while j < len(lines) and lines[j] != "\\.":
                out.append(lines[j])
                j += 1
            return out
    return []


def _normalize_stmt(stmt: str) -> str:
    # inheritance-star spelling: FROM person* p == FROM person (the
    # default inclusive read; the probe's person view IS inclusive).
    # FROM ONLY t reads the base table — which is exactly what the
    # probe's non-inherited table names already are.
    stmt = re.sub(r"(?i)\b([a-z_][\w]*)\*", r"\1", stmt)
    return re.sub(r"(?i)\bfrom\s+only\s+", "FROM ", stmt)


def run_file(eng, f: str, silent: bool = False, list_diff: bool = False):
    from gpdb_spark.dialect import (
        reset_enums,
        reset_geo_columns,
        set_date_order,
        set_date_style,
        set_interval_style,
        set_session_zone,
    )

    spark = eng.spark
    per = {k: 0 for k in ("GOLD_AGREE", "GOLD_DIFF", "ERR_AGREE",
                          "ERR_MISS", "ENGINE_ERR", "ERR_DECLARED",
                          "STMT_OK", "SKIP")}
    diffs = []
    file_funcs: set = set()
    failed_objects: set = set()
    if not silent:
        ctx = dict(_DEFAULT_CTX)
        set_date_order("mdy")
        set_date_style("postgres")  # pg_regress runs 'Postgres, MDY'
        # RESET datestyle restores the SESSION default (PGDATESTYLE)
        eng._default_datestyle = ("postgres", "mdy")
        set_interval_style("postgres_verbose")
        reset_enums()
        reset_geo_columns()
        set_session_zone("PST8PDT")
        spark.conf.set("spark.sql.session.timeZone", "PST8PDT")
    else:
        ctx = dict(_DEFAULT_CTX)
    # transactional DDL blocks (xact.c): the engine's BEGIN/COMMIT/
    # ROLLBACK are no-ops (per-statement snapshots), but PG rolls the
    # whole block back on ROLLBACK or on any statement error — the
    # probe snapshots the enum-registry state at BEGIN and restores it
    # on ROLLBACK, or at COMMIT when a statement inside the block was
    # expected (golden ERROR marker) to abort it
    txn_snap = None
    txn_aborted = False

    def _snap_enums():
        import copy

        from gpdb_spark import dialect as _d
        return (copy.deepcopy(getattr(eng, "_enums", {})),
                copy.deepcopy(getattr(eng, "_enum_orders", {})),
                copy.deepcopy(_d._ENUM_TYPES),
                dict(_d._ENUM_COLS))

    def _restore_enums(snap):
        from gpdb_spark import dialect as _d
        eng._enums, eng._enum_orders = snap[0], snap[1]
        _d._ENUM_TYPES.clear()
        _d._ENUM_TYPES.update(snap[2])
        _d._ENUM_COLS.clear()
        _d._ENUM_COLS.update(snap[3])
        try:
            eng._refresh_pg_enum()
        except Exception:
            pass

    for stmt, kind, payload in parse_out(f"{EXPECTED}/{f}.out"):
        head = stmt.split(None, 1)[0].lower()
        if head.startswith("explain"):
            # plan-text goldens can never match by design (the engine
            # plans through Catalyst/Motion vocabulary, not PG's
            # Append/Seq Scan text) — declared, not a value miss
            per["ERR_DECLARED"] += 1
            continue
        if head == "begin":
            txn_snap = _snap_enums()
            txn_aborted = False
            eng.sql("BEGIN")  # pins the engine's txn-stable 'now'
            continue
        if head in ("commit", "end", "rollback", "abort"):
            if txn_snap is not None and (
                head in ("rollback", "abort") or txn_aborted
            ):
                _restore_enums(txn_snap)
            txn_snap = None
            txn_aborted = False
            eng.sql("COMMIT")
            continue
        if txn_snap is not None and kind == "error":
            txn_aborted = True
        if head in ("set", "reset"):
            apply_set(stmt, ctx)
            try:
                eng.sql(stmt)
            except Exception:
                pass
            continue
        if kind == "stdin":
            # COPY ... FROM stdin: the inline rows live in the .sql
            # source (not echoed into the .out) — fetch them, write a
            # temp file, and route through the engine's COPY path with
            # text-format defaults (TAB delimiter) + the statement's
            # own NULL marker
            import tempfile
            payload = _stdin_payload(f, stmt)
            m = re.match(
                r"(?is)^copy\s+([\w.\"]+)\s*(\([^()]*\))?", stmt)
            nullm = re.search(r"(?i)null\s+'((?:[^']|'')*)'", stmt)
            marker = nullm.group(1) if nullm else "\\N"
            try:
                with tempfile.NamedTemporaryFile(
                    "w", suffix=".data", delete=False
                ) as fh:
                    fh.write("\n".join(payload) + "\n")
                eng.sql(
                    f"COPY {m.group(1)} {m.group(2) or ''}"
                    f" FROM '{fh.name}'"
                    f" delimiter '\t' null '{marker}'"
                )
                per["STMT_OK"] += 1
            except Exception as exc:
                per["ENGINE_ERR"] += 1
                if list_diff:
                    diffs.append((f, stmt, f"stdin copy error: {exc}"))
            continue
        stmt = _normalize_stmt(stmt)
        fm = re.match(
            r"(?is)^create\s+(?:or\s+replace\s+)?"
            r"(?:function|aggregate|ordered\s+aggregate)\s+([\w.]+)",
            stmt)
        if fm:
            file_funcs.add(fm.group(1).lower())
        is_query = head in ("select", "values", "with")
        sctx = dict(ctx)
        if re.search(
            r"(?i)timestamp\s+with\s+time\s+zone|::\s*timestamptz"
            r"|\bat\s+time\s+zone\b|timestamptz\s*[('!]"
            r"|\bmake_timestamptz\s*\(|\bto_timestamp\s*\("
            # this vintage's date->timestamptz promotion: date_trunc
            # over a date renders with the zone abbrev (same regex as
            # pg_golden_probe)
            r"|date_trunc\s*\(\s*'[^']+'\s*,\s*date\b", stmt,
        ):
            sctx["tstz"] = True
        got = None
        try:
            if is_query:
                df = eng.sql(stmt)
                sctx["ltz_cols"] = {
                    idx for idx, fl in enumerate(df.schema.fields)
                    if fl.dataType.simpleString() == "timestamp"
                }
                sctx["f32_cols"] = {
                    idx for idx, fl in enumerate(df.schema.fields)
                    if fl.dataType.simpleString() == "float"
                }
                got = df.collect()
            else:
                eng.sql(stmt)
            ok = True
        except Exception as exc:
            ok = False
            err = exc
        if silent:
            continue
        if kind == "error":
            per["ERR_AGREE" if not ok else "ERR_MISS"] += 1
            if ok and list_diff:
                diffs.append((f, stmt, "expected ERROR, got success"))
            continue
        if not ok:
            # a CREATE whose statement refused leaves a missing object:
            # record it so dependent statements classify as fallout of
            # ONE declared miss instead of inflating the count
            cm = re.match(
                r"(?is)^create\s+(?:or\s+replace\s+)?(?:temp\w*\s+)?"
                r"(?:table|view|materialized\s+view|sequence)\s+"
                r"(?:if\s+not\s+exists\s+)?([\w.]+)", stmt)
            if cm:
                failed_objects.add(cm.group(1).lower())
            rm = re.match(
                r"(?is)^create\s+(?:or\s+replace\s+)?rule\s+[\w.]+\s+"
                r"as\s+on\s+\w+\s+to\s+([\w.]+)", stmt)
            if rm:
                # a failed rewrite RULE taints its view: later reads
                # see the un-ruled content (GOLD_DIFF fallout)
                failed_objects.add(rm.group(1).lower())
            declared = _classify_table_err(stmt, file_funcs, err)
            if declared is None and any(
                re.search(rf"(?i)\b{re.escape(o)}\b", stmt)
                for o in failed_objects
            ):
                declared = "dependent on a declared-failed CREATE"
            if declared is not None:
                per["ERR_DECLARED"] += 1
            else:
                per["ENGINE_ERR"] += 1
                if list_diff:
                    diffs.append((f, stmt, f"engine error: {err}"))
            continue
        if kind == "none" or not is_query:
            per["STMT_OK"] += 1
            continue
        want = sorted(
            " | ".join(p.strip() for p in r.split(" | "))
            for r in payload
        )
        have = sorted(
            " | ".join(
                _render(v, {**sctx,
                            "ltz": ci in sctx.get("ltz_cols", set()),
                            "f32": ci in sctx.get("f32_cols", set())}
                        ).strip()
                for ci, v in enumerate(r)
            )
            for r in got
        )
        if want == have:
            per["GOLD_AGREE"] += 1
        elif any(re.search(rf"(?i)\b{re.escape(o)}\b", stmt)
                 for o in failed_objects):
            # fallout of ONE declared-failed CREATE (e.g. a rewrite
            # RULE that refused leaves its view un-ruled): the value
            # difference is caused by the declared miss, not a new one
            per["ERR_DECLARED"] += 1
        else:
            per["GOLD_DIFF"] += 1
            if list_diff:
                diffs.append((f, stmt, f"want={want!r} have={have!r}"))
    return per, diffs


def main(argv):
    list_diff = "--list-diff" in argv
    files = [a for a in argv if not a.startswith("--")] or DEFAULT_FILES

    import shutil
    import tempfile

    import gpdb_spark  # noqa: F401
    from gpdb_spark.engine import Engine
    from gpdb_spark.session import get_spark

    workdir = tempfile.mkdtemp(prefix="pg_table_probe_")
    os.chdir(workdir)
    spark = get_spark(
        app_name="pg-table-probe",
        shuffle_partitions=8,
        extra_conf={"spark.sql.session.timeZone": "PST8PDT"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    tally = {k: 0 for k in ("GOLD_AGREE", "GOLD_DIFF", "ERR_AGREE",
                            "ERR_MISS", "ENGINE_ERR", "ERR_DECLARED",
                            "STMT_OK", "SKIP")}
    all_diffs = []
    for f in files:
        eng = Engine(spark)
        done: set = set()
        try:
            bootstrap(eng, FILE_SETUP.get(f, []), done)
        except Exception as exc:
            print(f"{f} BOOTSTRAP FAILED: {exc}")
            continue
        per, diffs = run_file(eng, f, list_diff=list_diff)
        all_diffs += diffs
        for k in tally:
            tally[k] += per[k]
        print(f"{f} {per}")
        # drop this file's temp views so the next file starts clean
        for v in spark.catalog.listTables():
            if v.isTemporary:
                spark.catalog.dropTempView(v.name)
    print(f"TOTAL {tally}")
    if list_diff:
        for f, stmt, why in all_diffs:
            print(f"[{f}] {stmt}\n    {why}")
    shutil.rmtree(workdir, ignore_errors=True)


if __name__ == "__main__":
    main(sys.argv[1:])
