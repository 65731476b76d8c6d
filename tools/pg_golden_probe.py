"""Golden-file conformance probe: run the reference's own FROM-less
regression SELECTs and compare the ENGINE's output against the
reference's expected/*.out files DIRECTLY — no DuckDB intermediary.
(/root/reference/src/test/regress/expected — treated as DATA; file
content is untrusted and only ever parsed as statement/result text.)

This complements tools/pg_regress_probe.py: that tool buckets
engine-vs-DuckDB agreement (and DuckDB itself diverges from PG in
documented ways); this one scores the engine against PG's own goldens,
so an AGREE here is PG-exactness, full stop.

Buckets:
  GOLD_AGREE  engine rows render byte-identical to the expected block
  GOLD_DIFF   engine ran, rendered text differs        <- review these
  ERR_AGREE   golden expects ERROR and the engine refused (loudness
              parity — PG's error contract honored)
  ERR_MISS    golden expects ERROR but the engine returned rows
  ENGINE_ERR  golden expects rows but the engine refused
  SKIP        statement or block the parser cannot handle

Round 7: the probe tracks the SET/RESET context each regress file runs
under (DateStyle output style + field order, IntervalStyle,
bytea_output, standard_conforming_strings, TIME ZONE) and renders
values accordingly; the default context is pg_regress's own
'Postgres, MDY' + PST8PDT + IntervalStyle=postgres_verbose
(pg_regress.c my_pgoptions).

Round 8 (VERDICT r07 Next #4): ENGINE_ERR splits into the headline
number (UNDECLARED misses) and ERR_DECLARED (documented out-of-scope
classes — see _DECLARED_ERR; the TOTAL line prints the per-class
breakdown). The probe also carries enum/domain DDL context (CREATE
TYPE AS ENUM / ALTER TYPE ADD VALUE / CREATE DOMAIN ... CHECK feed the
dialect's enum registry), CREATE FUNCTION names (calls to file-local
functions classify as declared context), SET [LOCAL] TIME ZONE with
PG's two sign conventions (bare numeric hours = ISO, HH:MM strings =
POSIX inverted), the CST7CDT equivalence shim (offset-identical
MST7MDT + abbreviation rename), and fixed-offset session rendering.

Known ERR_MISS classes (PG errors, engine returns a value — 9 rows as
of round 8, each reviewed by hand; the INT_MIN/-1, float->int
overflow-cast, chr(0), length(integer), numeric-||, deep-nesting json,
conflicting-DCH-field, make_timestamptz-offset-range and
illegal-continuation members were all FIXED to refuse this round):
- numeric NaN/Infinity ('NaN'::float8::numeric): this engine's numeric
  image is double, which carries NaN where PG's numeric type refuses
  Infinity (4 rows)
- Java-vs-POSIX regex residue (backrefs inside lookahead, \x7fffffff
  escapes, REG_ETOOBIG pattern-size limits) (4 rows)
- U&'...' UESCAPE with custom escape chars in identifier position

Known GOLD_DIFF classes (~30 rows, reviewed by hand):
- numeric scale on COLUMN-side arithmetic and union type resolution
  (the DECIMAL(38,6) image pads '4.5' to '4.500000' in unnest; union
  of numeric literals loses PG's per-VALUE display scale) — constant
  arithmetic follows numeric.c's scale selection exactly since r8
- POSIX whole-RE non-greedy capture-quantifier semantics (Java/Python
  pick per-group greediness where PG's engine decides for the whole RE)
- tzdata vintage (Asia/Manila 1846 LMT seconds)
- float shortest-repr exponent spelling ('1e+20' vs '1e20') and
  subnormal spelling ('1e-323' vs PG's %.15g '9.88131291682493e-324')

Usage: python tools/pg_golden_probe.py [--list-diff] [file ...]
"""
from __future__ import annotations

import datetime
import os
import re
import sys
from decimal import Decimal

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

EXPECTED = "/root/reference/src/test/regress/expected"

# same expression-level corpus as pg_regress_probe
from pg_regress_probe import CANDIDATES  # noqa: E402


def strip_comments(stmt: str) -> str:
    """Remove -- comments OUTSIDE string literals ('--> 08:14:30'
    inside a to_timestamp literal is content, not a comment)."""
    out = []
    i, n = 0, len(stmt)
    in_str = False
    while i < n:
        c = stmt[i]
        if in_str:
            out.append(c)
            if c == "'":
                if i + 1 < n and stmt[i + 1] == "'":
                    out.append("'")
                    i += 2
                    continue
                in_str = False
            i += 1
            continue
        if c == "'":
            in_str = True
            out.append(c)
            i += 1
            continue
        if c == "-" and i + 1 < n and stmt[i + 1] == "-":
            nl = stmt.find("\n", i)
            if nl == -1:
                break
            i = nl
            continue
        out.append(c)
        i += 1
    return "".join(out)


def parse_expected(path: str):
    """Yield (statement, expect) where expect is ('error',) or
    ('rows', [row-text, ...]) for single-statement FROM-less SELECTs."""
    try:
        lines = open(path, errors="replace").read().splitlines()
    except OSError:
        return
    i, n = 0, len(lines)
    while i < n:
        line = lines[i]
        # SET/RESET context statements (round-7: regress files run under
        # DateStyle/IntervalStyle/bytea_output contexts the FROM-less
        # extraction previously could not see) — echoed with no result
        # block in the .out files
        if re.match(r"(?i)^(set|reset)\b", line):
            stmt_lines = [line]
            while not re.search(r";\s*(--.*)?$", stmt_lines[-1]) and i + 1 < n:
                i += 1
                stmt_lines.append(lines[i])
            i += 1
            stmt = re.sub(r"--[^\n]*", "", " ".join(stmt_lines))
            yield stmt.strip().rstrip(";").strip(), ("set", None)
            continue
        # enum DDL context (round 8): the regress files declare enum
        # types the FROM-less SELECTs cast against — track them like
        # the SET context (echoed with no result block)
        if re.match(r"(?i)^(create\s+(type|domain)|alter\s+type"
                    r"|drop\s+(type|domain))\b", line):
            stmt_lines = [line]
            while not re.search(r";\s*(--.*)?$", stmt_lines[-1]) and i + 1 < n:
                i += 1
                stmt_lines.append(lines[i])
            i += 1
            stmt = re.sub(r"--[^\n]*", "", " ".join(stmt_lines))
            yield stmt.strip().rstrip(";").strip(), ("typeddl", None)
            continue
        fm = re.match(
            r"(?i)^create\s+(?:or\s+replace\s+)?function\s+([\w.]+)", line)
        if fm:
            # only the NAME is needed — calls to file-local functions
            # classify as declared context (the probe runs no DDL)
            yield fm.group(1), ("funcdef", None)
            i += 1
            continue
        if not re.match(r"(?i)^select\b", line):
            i += 1
            continue
        stmt_lines = [line]
        while not re.search(r";\s*(--.*)?$", stmt_lines[-1]) and i + 1 < n:
            i += 1
            stmt_lines.append(lines[i])
        i += 1
        # newline-join: a multi-line string LITERAL must keep its
        # embedded newline (PG refuses a raw 0x0a inside json, and
        # to_char patterns may contain one) — a space-join silently
        # rewrites the statement under test
        stmt = strip_comments("\n".join(stmt_lines))
        stmt = stmt.strip().rstrip(";").strip()
        # FROM-less, single-statement, no SRF-free guard needed: the
        # engine refusing is itself a bucket
        if re.search(r"(?i)\bfrom\b", stmt) or not stmt:
            continue
        if i < n and lines[i].startswith("ERROR:"):
            while i < n and lines[i] != "" and not re.match(
                r"(?i)^(select|set|reset|create\s+type|alter\s+type"
                r"|drop\s+type)\b",
                lines[i],
            ):
                i += 1
            yield stmt, ("error", None)
            continue
        # header line, dashes line, data rows, "(N rows)"
        if i + 1 < n and re.fullmatch(r"-+(\+-+)*", lines[i + 1] or ""):
            j = i + 2
            rows = []
            while j < n and not re.fullmatch(r"\((\d+) rows?\)", lines[j]):
                rows.append(lines[j])
                j += 1
            if j < n:
                yield stmt, ("rows", rows)
                i = j + 1
                continue
        # block shape not recognized: skip this statement
        yield stmt, ("skip", None)


def _pg_interval_text(td: datetime.timedelta) -> str:
    """PG interval_out (postgres style) for a day-time value: days
    component + HH:MM:SS[.ffffff]; negatives render sign per part."""
    total = td.days * 86400 * 10**6 + td.seconds * 10**6 + td.microseconds
    sign = "-" if total < 0 else ""
    total = abs(total)
    days, rest = divmod(total, 86400 * 10**6)
    secs, us = divmod(rest, 10**6)
    h, ms = divmod(secs, 3600)
    m, s = divmod(ms, 60)
    t = f"{sign}{h:02d}:{m:02d}:{s:02d}"
    if us:
        t += f".{us:06d}".rstrip("0")
    parts = []
    if days:
        parts.append(f"{sign}{days} day" + ("" if days == 1 else "s"))
    if days and total % (86400 * 10**6) == 0:
        return parts[0]
    parts.append(t)
    return " ".join(parts)


_DEFAULT_CTX = {
    # pg_regress runs every test under DateStyle='Postgres, MDY'
    # (pg_regress.c initializes PGDATESTYLE), so that — not ISO — is
    # the context a file starts in
    "dstyle": "postgres",   # DateStyle output: iso/postgres/sql/german
    "dorder": "mdy",        # DateStyle field order
    "istyle": "postgres_verbose",   # IntervalStyle (pg_regress.c forces
                                    # -c intervalstyle=postgres_verbose)
    "bytea": "hex",         # bytea_output
    "std": True,            # standard_conforming_strings
    "tz": "PST8PDT",        # regress TimeZone (pg_regress.c)
}


def _interval_verbose(td: datetime.timedelta) -> str:
    """EncodeInterval INTSTYLE_POSTGRES_VERBOSE: '@ n unit ...' with
    singular/plural units and trailing 'ago' for negative values."""
    total = td.days * 86400 * 10**6 + td.seconds * 10**6 + td.microseconds
    neg = total < 0
    total = abs(total)
    days, rest = divmod(total, 86400 * 10**6)
    secs, us = divmod(rest, 10**6)
    h, ms = divmod(secs, 3600)
    m, s = divmod(ms, 60)
    parts = []
    for val, unit in ((days, "day"), (h, "hour"), (m, "min")):
        if val:
            parts.append(f"{val} {unit}" + ("" if val == 1 else "s"))
    if s or us:
        sec_txt = str(s) if not us else f"{s}.{us:06d}".rstrip("0")
        one = (s == 1 and not us)
        parts.append(f"{sec_txt} sec" + ("" if one else "s"))
    if not parts:
        return "@ 0"
    return "@ " + " ".join(parts) + (" ago" if neg else "")


def _interval_sql_standard(td: datetime.timedelta) -> str:
    """EncodeInterval INTSTYLE_SQL_STANDARD for pure day-time values:
    '[-]D H:MM:SS[.f]' / '[-]H:MM:SS[.f]'."""
    total = td.days * 86400 * 10**6 + td.seconds * 10**6 + td.microseconds
    sign = "-" if total < 0 else ""
    total = abs(total)
    days, rest = divmod(total, 86400 * 10**6)
    secs, us = divmod(rest, 10**6)
    h, ms = divmod(secs, 3600)
    m, s = divmod(ms, 60)
    t = f"{h}:{m:02d}:{s:02d}"
    if us:
        t += f".{us:06d}".rstrip("0")
    if days:
        return f"{sign}{days} {t}"
    return sign + t if total else "0"


def _bytea_escape(b: bytes) -> str:
    """byteaout bytea_output=escape: printable ASCII as-is, backslash
    doubled, the rest as \\nnn octal."""
    out = []
    for c in b:
        if c == 0x5C:
            out.append("\\\\")
        elif 0x20 <= c <= 0x7E:
            out.append(chr(c))
        else:
            out.append(f"\\{c:03o}")
    return "".join(out)


# Zone names PG ships that the JDK/zoneinfo tzdb lacks: an offset- and
# DST-rule-identical tzdb equivalent, plus the abbreviation renames
# needed to render PG's abbreviation (CST7CDT is standard -7 / DST -6
# with US rules — exactly MST7MDT's offsets under different names).
_TZ_POSIX_EQUIV = {
    "CST7CDT": ("MST7MDT", {"MST": "CST", "MDT": "CDT"}),
}


def _spark_zone(tz: str) -> str | None:
    """Resolve a PG SET TIME ZONE value to a Spark session zone id.
    Numeric values use the POSIX sign convention (guc.c: positive =
    west of Greenwich), so '+02:00' is UTC-2 — invert for Spark's
    ISO-convention GMT±HH:MM ids."""
    eq = _TZ_POSIX_EQUIV.get(tz)
    if eq:
        return eq[0]
    # bare numeric hours = SQL-standard ISO offset (guc.c: SET TIME
    # ZONE '-1.5' is UTC-01:30, positive east); HH:MM forms are POSIX
    # zone strings (positive WEST — inverted)
    m = re.fullmatch(r"([+-]?)(\d{1,2})(?:\.(\d+))?", tz)
    if m:
        sign = -1 if m.group(1) == "-" else 1
        frac = float("0." + m.group(3)) if m.group(3) else 0.0
        tot = sign * int(round((int(m.group(2)) + frac) * 60))
        s = "+" if tot >= 0 else "-"
        return f"GMT{s}{abs(tot) // 60:02d}:{abs(tot) % 60:02d}"
    m = re.fullmatch(r"([+-]?)(\d{1,2}):(\d{2})", tz)
    if m:
        sign = -1 if m.group(1) == "-" else 1
        tot = -sign * (int(m.group(2)) * 60 + int(m.group(3)))
        s = "+" if tot >= 0 else "-"
        return f"GMT{s}{abs(tot) // 60:02d}:{abs(tot) % 60:02d}"
    try:
        from zoneinfo import ZoneInfo

        ZoneInfo(tz)
        return tz
    except Exception:
        return None


def render(v, ctx=_DEFAULT_CTX) -> str:
    """PG text rendering of a collected Python value under the current
    DateStyle/IntervalStyle/bytea_output context (EncodeDateTime /
    EncodeDateOnly / EncodeInterval / byteaout)."""
    if v is None:
        return ""
    if v is True:
        return "t"
    if v is False:
        return "f"
    if isinstance(v, float):
        if v != v:
            return "NaN"
        if v == float("inf"):
            return "Infinity"
        if v == float("-inf"):
            return "-Infinity"
        if v != 0.0 and abs(v) < 2.2250738585072014e-308:
            # subnormals: float8out's %.15g, not shortest-repr
            return "%.15g" % v
        r = repr(v)
        return r[:-2] if r.endswith(".0") else r
    if isinstance(v, Decimal):
        # numeric_out never uses E-notation (0E-16 prints as
        # 0.0000000000000000)
        return f"{v:f}"
    if isinstance(v, datetime.datetime):
        if ctx.get("ltz", True):
            # the session zone governs INPUT interpretation, but
            # PySpark collects TimestampType (LTZ) as OS-local (UTC
            # here) wall times — rendering converts the UTC instant to
            # the tracked zone; NTZ values pass through untouched. The
            # abbreviation only prints for timestamptz statements.
            from zoneinfo import ZoneInfo

            tzname = ctx.get("tz", "PST8PDT")
            equiv = _TZ_POSIX_EQUIV.get(tzname)
            zone_info = None
            fixed_abbrev = None
            sz = _spark_zone(tzname)
            if sz and sz.startswith("GMT"):
                # fixed-offset session: PG renders the ISO offset text
                hh, mm = int(sz[3:6]), int(sz[7:9])
                # the sign carries to the minutes too (GMT-01:30 is
                # -90 min, not -60+30)
                zone_info = datetime.timezone(
                    datetime.timedelta(
                        minutes=(abs(hh) * 60 + mm)
                        * (-1 if sz[3] == "-" else 1)))
                fixed_abbrev = f"{sz[3]}{abs(hh):02d}"
                fixed_abbrev += f":{mm:02d}" if mm else ""
            if zone_info is None:
                try:
                    zone_info = ZoneInfo(equiv[0] if equiv else tzname)
                except Exception:
                    zone_info = ZoneInfo("PST8PDT")
            v = v.replace(tzinfo=datetime.timezone.utc).astimezone(
                zone_info)
        frac = ""
        if v.microsecond:
            frac = f".{v.microsecond:06d}".rstrip("0")
        abbrev = v.strftime("%Z")
        if ctx.get("ltz", True):
            if fixed_abbrev is not None:
                abbrev = fixed_abbrev
            equiv = _TZ_POSIX_EQUIV.get(ctx.get("tz", "PST8PDT"))
            if equiv:
                abbrev = equiv[1].get(abbrev, abbrev)
        # the zone abbreviation prints only for timestamptz VALUES —
        # an NTZ column (AT TIME ZONE's tstz->naive direction) stays
        # bare even inside a tstz-flagged statement
        zone = " " + abbrev if ctx.get("tstz") and ctx.get("ltz", True) \
            else ""
        style = ctx["dstyle"]
        # EncodeDateTime zero-pads the year to 4 digits in every
        # style; glibc strftime %Y does not ('0097' would print '97')
        y4 = f"{v.year:04d}"
        if style == "postgres":
            # DMY field order prints day before month (EncodeDateTime)
            dpart = ("%a %d %b " if ctx["dorder"] == "dmy"
                     else "%a %b %d ")
            return v.strftime(dpart) + v.strftime("%H:%M:%S") \
                + frac + " " + y4 + zone
        if style == "sql":
            dmy = ctx["dorder"] == "dmy"
            dpart = v.strftime("%d/%m/" if dmy else "%m/%d/") + y4
            return f"{dpart} {v.strftime('%H:%M:%S')}{frac}{zone}"
        if style == "german":
            return v.strftime("%d.%m.") + y4 + v.strftime(" %H:%M:%S") \
                + frac + zone
        # ISO renders a numeric offset, not the abbreviation
        if ctx.get("tstz") and ctx.get("ltz", True):
            off = v.strftime("%z")
            zone = off[:3] if off.endswith("00") else off[:3] + ":" + off[3:]
        return (f"{v.year:04d}-" + v.strftime("%m-%d %H:%M:%S")
                + frac + zone)
    if isinstance(v, datetime.time):
        s = v.strftime("%H:%M:%S")
        if v.microsecond:
            s += f".{v.microsecond:06d}".rstrip("0")
        return s
    if isinstance(v, datetime.date):
        style = ctx["dstyle"]
        dmy = ctx["dorder"] == "dmy"
        y4 = f"{v.year:04d}"
        if style == "postgres":
            return v.strftime("%d-%m-" if dmy else "%m-%d-") + y4
        if style == "sql":
            return v.strftime("%d/%m/" if dmy else "%m/%d/") + y4
        if style == "german":
            return v.strftime("%d.%m.") + y4
        return v.isoformat()
    if isinstance(v, datetime.timedelta):
        if ctx["istyle"] == "postgres_verbose":
            return _interval_verbose(v)
        if ctx["istyle"] == "sql_standard":
            return _interval_sql_standard(v)
        return _pg_interval_text(v)
    if isinstance(v, (bytes, bytearray)):
        if ctx["bytea"] == "escape":
            return _bytea_escape(bytes(v))
        return "\\x" + bytes(v).hex()
    if isinstance(v, list):
        out = []
        for e in v:
            if isinstance(e, list):
                out.append(render(e, ctx))  # nested dims never quote
                continue
            t = render(e, ctx)
            if t == "" or re.search(r'[{},"\\\s]', t) or t.lower() == "null":
                t = '"' + t.replace("\\", "\\\\").replace('"', '\\"') + '"'
            out.append("NULL" if e is None else t)
        return "{" + ",".join(out) + "}"
    return str(v)


# Declared out-of-scope ENGINE_ERR classes (round 8 — VERDICT r07 Next
# #4): each a documented gap, so the headline ENGINE_ERR number
# measures only UNDECLARED misses. Order matters: first hit wins.
_DECLARED_ERR: list[tuple[str, re.Pattern]] = [
    ("timetz", re.compile(
        r"(?i)time\s+with\s+time\s+zone|::\s*timetz|\btimetz\s*'")),
    ("bc-era date", re.compile(r"(?i)'[^']*\bbc\b[^']*'|\bb\.c\.")),
    ("date/ts infinity", re.compile(
        r"(?i)'-?infinity'\s*::\s*(date|timestamp)"
        r"|(date|timestamp(tz)?)\s*'-?infinity'")),
    ("bytea escape-format input", re.compile(
        r"(?i)e'[^']*\\\\[0-9x][^']*'\s*::\s*bytea")),
    ("julian/compact exotic datetime input", re.compile(
        r"(?i)'[jy]\d+[^']*'|'\d{1,2}\.\d{1,2}\.\d{4}[^']*'"
        r"|'t?\d{6}\.\d+\s*[+-]")),
    ("GUC-gated nonstandard datetime width", re.compile(
        r"'\d{7}'|'\d{14}(\.\d+)?'|'\d{5}\d*\.\d+'")),
    ("session/procedural utility", re.compile(
        r"(?i)\bpg_sleep\b|\btimeofday\b|\bpg_notify\b")),
    ("IS OF type predicate", re.compile(r"(?i)\bis\s+of\s*\(")),
    ("array non-default lower bounds", re.compile(
        r"\[\d+:\d+\]=|array_fill\s*\(.*,\s*array\s*\[")),
    ("mixed-dimension array concat", re.compile(
        r"(?is)(array_cat\s*\(.*\[\s*\[)|(\[\s*\[.*\|\|)|(\|\|\s*array\s*\[\s*\[)")),
    ("numeric beyond 38 digits", re.compile(r"\d{39,}")),
    ("year beyond 9999 (datetime image range)", re.compile(
        r"(?i)'\d{5,6}-\d|/2942\d\d\b|to_timestamp\s*\(\s*'\d{5}-")),
    ("instant before 0001-01-01 UTC (timestamptz image range)",
     re.compile(r"(?i)date_trunc\s*\(\s*'(century|decade|millennium)'"
                r"\s*,\s*(date|timestamp)\s*'000\d\b")),
    ("numeric NaN (numeric image is double)", re.compile(
        r"(?i)'nan'\s*::\s*numeric")),
]


def classify_engine_err(stmt: str, file_funcs: set,
                        file_types: set = frozenset()) -> str | None:
    for name in file_funcs:
        if re.search(rf"(?i)\b{re.escape(name)}\s*\(", stmt):
            return "user-defined function context"
    for name in file_types:
        if re.search(rf"(?i)\b{re.escape(name)}\b", stmt):
            return "user-defined type context"
    for label, rx in _DECLARED_ERR:
        if rx.search(stmt):
            return label
    return None


def apply_type_ddl(stmt: str) -> None:
    """CREATE TYPE ... AS ENUM / ALTER TYPE ... ADD VALUE / DROP TYPE —
    mirrored into the dialect's enum registry so the FROM-less enum
    casts fold (pg_enum.c semantics live in gpdb_spark.dialect)."""
    from gpdb_spark.dialect import drop_enum, enum_add_value, register_enum

    m = re.match(
        r"(?is)^create\s+type\s+([\w.]+)\s+as\s+enum\s*\((.*)\)\s*$", stmt)
    if m:
        vals = re.findall(r"'((?:[^']|'')*)'", m.group(2))
        register_enum(m.group(1), [v.replace("''", "'") for v in vals])
        return
    m = re.match(
        r"(?is)^alter\s+type\s+([\w.]+)\s+add\s+value\s+"
        r"(?:if\s+not\s+exists\s+)?'((?:[^']|'')*)'"
        r"(?:\s+(before|after)\s+'((?:[^']|'')*)')?\s*$", stmt)
    if m:
        name, val, pos, ref = m.groups()
        try:
            enum_add_value(
                name, val.replace("''", "'"),
                before=ref if pos and pos.lower() == "before" else None,
                after=ref if pos and pos.lower() == "after" else None)
        except ValueError:
            pass  # golden carries the matching ERROR line
        return
    m = re.match(
        r"(?is)^create\s+domain\s+([\w.]+)\s+as\s+[\w.]+\s+"
        r"check\s*\(\s*value\s+in\s*\((.*)\)\s*\)\s*$", stmt)
    if m:
        # enum-restricting domain (rgb in enum.sql): register the CHECK
        # list — label validation then carries the domain constraint
        vals = re.findall(r"'((?:[^']|'')*)'", m.group(2))
        register_enum(m.group(1), [v.replace("''", "'") for v in vals])
        return
    m = re.match(
        r"(?is)^drop\s+(?:type|domain)\s+(?:if\s+exists\s+)?([\w.]+)",
        stmt)
    if m:
        drop_enum(m.group(1))


def apply_set(stmt: str, ctx: dict) -> None:
    """Track the SET/RESET context statements the regress files run
    under. DateStyle field order also feeds the dialect's date-input
    parser (set_date_order — the engine's real SET path does the same,
    gpdb_spark/engine.py)."""
    from gpdb_spark.dialect import set_date_order, set_date_style

    if re.match(r"(?i)^reset\b", stmt):
        m = re.match(r"(?i)^reset\s+(\w+)", stmt)
        name = m.group(1).lower() if m else ""
        if name in ("timezone", "time"):
            # RESET TimeZone restores the regress session default —
            # missing this left America/New_York / Europe/Moscow
            # leaking into every later statement (the r07 EST/MSK
            # GOLD_DIFF class)
            ctx["tz"] = "PST8PDT"
        elif name == "datestyle":
            # RESET restores the regress session default
            ctx["dstyle"], ctx["dorder"] = "postgres", "mdy"
            set_date_order("mdy")
            set_date_style("postgres")
        elif name == "intervalstyle":
            ctx["istyle"] = "postgres_verbose"
            from gpdb_spark.dialect import set_interval_style
            set_interval_style("postgres_verbose")
        elif name == "bytea_output":
            ctx["bytea"] = "hex"
        elif name == "standard_conforming_strings":
            ctx["std"] = True
        return
    m = re.match(
        r"(?i)^set\s+(?:local\s+|session\s+)?(time\s+zone|\w+)"
        r"\s*(?:to\s+|=\s*)?(.*)$",
        stmt)
    if not m:
        return
    name, val = m.group(1).lower(), m.group(2).strip().strip("'")
    if re.fullmatch(r"time\s+zone|timezone", name):
        ctx["tz"] = (
            "PST8PDT" if val.lower() in ("local", "default") else val
        )
        return
    val = val.lower()
    if name == "datestyle":
        if val == "default":
            # the regress session default is 'Postgres, MDY'
            ctx["dstyle"], ctx["dorder"] = "postgres", "mdy"
            set_date_order("mdy")
            set_date_style("postgres")
            return
        for part in re.split(r"[,\s]+", val):
            if part in ("iso", "postgres", "sql", "german"):
                ctx["dstyle"] = part
                set_date_style(part)
            elif part in ("mdy", "dmy", "ymd", "us", "european"):
                order = {"us": "mdy", "european": "dmy"}.get(part, part)
                ctx["dorder"] = order
                set_date_order(order)
    elif name == "intervalstyle":
        ctx["istyle"] = val
        from gpdb_spark.dialect import set_interval_style
        set_interval_style(val)
    elif name == "bytea_output":
        ctx["bytea"] = val
    elif name == "standard_conforming_strings":
        ctx["std"] = val in ("on", "true", "1")


def main(argv):
    list_diff = "--list-diff" in argv
    files = [a for a in argv if not a.startswith("--")] or CANDIDATES

    import gpdb_spark  # noqa: F401 — ym shim
    from gpdb_spark.dialect import pg_sql
    from gpdb_spark.session import get_spark

    # the regress suite runs under TimeZone=PST8PDT (pg_regress.c) —
    # zoneless timestamptz input must interpret in THAT session zone,
    # exactly as PG does, or every tstz value is off by the offset
    spark = get_spark(
        app_name="pg-golden-probe",
        shuffle_partitions=8,
        extra_conf={"spark.sql.session.timeZone": "PST8PDT"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    tally = {k: 0 for k in ("GOLD_AGREE", "GOLD_DIFF", "ERR_AGREE",
                            "ERR_MISS", "ENGINE_ERR", "ERR_DECLARED",
                            "SKIP")}
    diffs, engerrs = [], []
    declared_counts: dict[str, int] = {}
    for f in files:
        per = dict.fromkeys(tally, 0)
        ctx = dict(_DEFAULT_CTX)
        from gpdb_spark.dialect import (reset_enums, set_date_order,
                                        set_date_style,
                                        set_interval_style)
        set_date_order("mdy")
        set_date_style("postgres")  # pg_regress runs 'Postgres, MDY'
        set_interval_style("postgres_verbose")
        reset_enums()
        from gpdb_spark.dialect import set_session_zone
        set_session_zone("PST8PDT")
        spark.conf.set("spark.sql.session.timeZone", "PST8PDT")
        file_funcs: set = set()
        file_types: set = set()
        for stmt, (kind, rows) in parse_expected(f"{EXPECTED}/{f}.out"):
            if kind == "funcdef":
                file_funcs.add(stmt)
                continue
            if kind == "typeddl":
                apply_type_ddl(stmt)
                mt = re.match(r"(?is)^create\s+(?:type|domain)\s+"
                              r"([\w.]+)", stmt)
                if mt:
                    file_types.add(mt.group(1))
                continue
            if kind == "set":
                apply_set(stmt, ctx)
                # SET TIME ZONE changes input interpretation too —
                # mirror it into the live session like PG's GUC does
                # (through the POSIX-equivalence / numeric-inversion
                # shim; unsupported names leave the session unchanged)
                sz = _spark_zone(ctx["tz"])
                if sz is not None:
                    try:
                        spark.conf.set(
                            "spark.sql.session.timeZone", sz)
                    except Exception:
                        pass
                    from gpdb_spark.dialect import set_session_zone
                    set_session_zone(sz)
                continue
            if kind == "skip":
                per["SKIP"] += 1
                continue
            if not ctx["std"] and "\\" in stmt:
                # standard_conforming_strings=off gives plain literals
                # E''-escape semantics the translator does not model
                per["SKIP"] += 1
                continue
            sctx = dict(ctx)
            if re.search(
                r"(?i)timestamp\s+with\s+time\s+zone|::\s*timestamptz"
                r"|timestamptz\s*[('!]|\bto_timestamp\s*\("
                # AT TIME ZONE's naive->tstz direction and the
                # date->timestamptz promotions return timestamptz
                # (the NTZ direction suppresses the abbrev via the
                # per-column ltz gate above)
                r"|\bat\s+time\s+zone\b|\bmake_timestamptz\s*\("
                r"|date_trunc\s*\(\s*'[^']+'\s*,\s*date\b", stmt,
            ):
                sctx["tstz"] = True
            try:
                df = pg_sql(spark, stmt, None)
                # LTZ timestamps collect as OS-local (UTC) walls; NTZ
                # collect as-is — rendering must convert only the former
                sctx["ltz_cols"] = {
                    idx for idx, fl in enumerate(df.schema.fields)
                    if fl.dataType.simpleString() == "timestamp"
                }
                got = df.collect()
                ok = True
            except Exception:
                ok = False
            if kind == "error":
                per["ERR_AGREE" if not ok else "ERR_MISS"] += 1
                if ok and list_diff:
                    diffs.append((f, stmt, "expected ERROR, got rows"))
                continue
            if not ok:
                declared = classify_engine_err(
                    stmt, file_funcs, file_types)
                if declared is not None:
                    per["ERR_DECLARED"] += 1
                    declared_counts[declared] = (
                        declared_counts.get(declared, 0) + 1)
                else:
                    per["ENGINE_ERR"] += 1
                    engerrs.append((f, stmt))
                continue
            # psql aligned format pads cells (numbers right-aligned,
            # text left-aligned) — alignment spaces are not separable
            # from value-edge spaces, so the compare is whitespace-
            # TRIMMED per cell (interior whitespace still compares)
            want = [
                " | ".join(p.strip() for p in r.split(" | "))
                for r in (x for x in rows)
            ]
            have = [
                " | ".join(
                    render(v, {**sctx, "ltz": ci in sctx["ltz_cols"]}
                           ).strip()
                    for ci, v in enumerate(r)
                )
                for r in got
            ]
            if want == have:
                per["GOLD_AGREE"] += 1
            else:
                per["GOLD_DIFF"] += 1
                if list_diff:
                    diffs.append((f, stmt, f"want={want!r} have={have!r}"))
        for k in tally:
            tally[k] += per[k]
        print(f"{f} {per}")
    print(f"TOTAL {tally}")
    if declared_counts:
        print("ERR_DECLARED breakdown (documented out-of-scope "
              "classes; ENGINE_ERR above counts only undeclared "
              "misses):")
        for label, cnt in sorted(declared_counts.items(),
                                 key=lambda kv: -kv[1]):
            print(f"  {cnt:4d}  {label}")
    if list_diff:
        print("== GOLD_DIFF / ERR_MISS ==")
        for f, stmt, why in diffs:
            print(f"[{f}] {stmt}\n    {why}")
        print("== ENGINE_ERR ==")
        for f, stmt in engerrs:
            print(f"[{f}] {stmt}")


if __name__ == "__main__":
    main(sys.argv[1:])
