"""Dialect front-door tests: translate() unit checks plus end-to-end
pg_sql() vs DuckDB (which speaks the PG dialect natively) on fixtures."""

from __future__ import annotations

import duckdb
import pytest

from gpdb_spark.dialect import TypeContext, pg_sql, translate


def test_cast_translation():
    assert translate("select a::int8 from t") == "SELECT a AS x"[:0] + translate(
        "select a::int8 from t"
    )  # idempotent shape
    assert "CAST(a AS BIGINT)" in translate("select a::int8 from t")
    assert "CAST((a + b) AS DOUBLE)" in translate("select (a+b)::float8 from t")
    assert "CAST(f(x) AS STRING)" in translate("select f(x)::text from t")
    assert "DECIMAL(12,2)" in translate("select a::numeric(12,2) from t")
    assert "CAST('5' AS INT)" in translate("select '5'::int4 from t")


def test_regex_ops():
    assert "name RLIKE '^ab'" in translate("select * from t where name ~ '^ab'")
    assert "NOT(name RLIKE '^ab')" in translate(
        "select * from t where name !~ '^ab'"
    ).replace("NOT (", "NOT(")
    assert "RLIKE '(?i)^ab'" in translate("select * from t where name ~* '^ab'")


def test_quoted_idents():
    assert "`weird col`" in translate('select "weird col" from t')


def test_order_by_nulls():
    out = translate("select a from t order by a, b desc limit 3")
    assert "a NULLS LAST" in out
    assert "b desc NULLS FIRST" in out
    # explicit NULLS untouched
    out2 = translate("select a from t order by a nulls first")
    assert out2.upper().count("NULLS") == 1
    # window order-by also rewritten, frame clause intact
    out3 = translate(
        "select sum(x) over (order by a rows between 1 preceding and current row) from t"
    )
    assert "a NULLS LAST" in out3 and "rows between" in out3


def test_functions():
    assert "current_timestamp()" in translate("select now()")
    assert "unix_timestamp(ts)" in translate("select extract(epoch from ts) from t")
    # to_char now expands formatting.c tokens to explicit expressions
    out_tc = translate("select to_char(ts, 'YYYY-MM-DD') from t")
    assert "year((ts))" in out_tc and "lpad" in out_tc
    out = translate("select string_agg(x, ',' order by x) from t")
    assert "listagg(x, ',')" in out and "WITHIN GROUP(order by x NULLS LAST)" in out.replace(
        "GROUP (", "GROUP("
    )
    assert "instr(" in translate("select strpos(a, 'x') from t")


def test_qualified_operands():
    assert "CAST(o.o_orderkey AS STRING)" in translate(
        "SELECT o.o_orderkey::text FROM orders o"
    )
    assert "NOT(a.b RLIKE 'x')" in translate(
        "SELECT * FROM t a WHERE a.b !~ 'x'"
    ).replace("NOT (", "NOT(")
    assert "CAST(a AS STRING)" in translate("SELECT a::varchar(10) FROM t")
    assert "CAST(a AS STRING)" in translate(
        "SELECT a::character varying(10) FROM t"
    )


def test_json_arrows():
    out = translate("SELECT meta -> 'user' ->> 'name' FROM d")
    assert "get_json_object(get_json_object(meta, '$.user'), '$.name')" in out
    assert "get_json_object(j, '$[0]')" in translate("SELECT j -> 0 FROM t")
    assert "get_json_object(m, '$.a.b[1]')" in translate(
        "SELECT m #> '{a,b,1}' FROM t"
    )


def test_int_division():
    ic = TypeContext(int_cols=frozenset({"o_orderkey", "o_custkey"}))
    assert "o_orderkey div 7" in translate("SELECT o_orderkey / 7 FROM o", ic)
    assert "o_orderkey div o_custkey" in translate(
        "SELECT o_orderkey / o_custkey FROM o", ic
    )
    # double column stays double division
    assert "o_totalprice / 4" in translate("SELECT o_totalprice / 4 FROM o", ic)
    # integer CASTs count as integral
    assert "div" in translate("SELECT a::int8 / b::int4 FROM t")
    assert "7 div 2" in translate("SELECT 7 / 2")


def test_generate_series_from():
    out = translate("select n from generate_series(1, 5) as g(n)")
    assert "explode(sequence(1, 5))" in out.replace("( ", "(")


PG_QUERIES = {
    "casts_regex": """
        SELECT c_custkey::int8 AS k, c_name
        FROM customer
        WHERE c_name ~ '.*0042.*' AND c_acctbal::numeric(12,2) > 0
    """,
    "order_nulls_limit": """
        SELECT nullif(n_regionkey, 2) AS rk, n_name
        FROM nation
        ORDER BY rk, n_name LIMIT 10
    """,
    "series_join": """
        SELECT r.r_regionkey, g.n
        FROM region r, generate_series(1, 3) AS g(n)
        WHERE g.n <= r.r_regionkey + 1
    """,
    "string_agg_ordered": """
        SELECT n_regionkey, string_agg(n_name, '|' ORDER BY n_name) AS names
        FROM nation GROUP BY n_regionkey
    """,
    # (to_char itself is unit-tested; DuckDB has no to_char, so the e2e
    # date-formatting case goes through ::text which both engines accept)
    "cast_text_dates": """
        SELECT o_orderkey, substr(o_orderdate::text, 1, 7) AS ym
        FROM orders WHERE o_orderkey < 100
    """,
}


@pytest.mark.parametrize("name", sorted(PG_QUERIES))
def test_pg_sql_matches_duckdb(spark, sf_dir, name):
    sql = PG_QUERIES[name]
    sdf = pg_sql(spark, sql, sf_dir)
    srows = sorted([tuple(r) for r in sdf.collect()], key=repr)

    con = duckdb.connect()
    for t in [
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
    ]:
        con.execute(
            f"create view {t} as select * from read_parquet('{sf_dir}/{t}.parquet')"
        )
    orows = sorted([tuple(r) for r in con.execute(sql).fetchall()], key=repr)
    if "LIMIT" in sql.upper() or "limit" in sql:
        # ordered-prefix queries: compare as ordered lists
        srows = [tuple(r) for r in sdf.collect()]
        orows = [tuple(r) for r in con.execute(sql).fetchall()]
    assert srows == orows, f"{name}: spark={srows[:5]} duck={orows[:5]}"


def test_cast_binds_past_filter_clause():
    """agg(...) FILTER (WHERE ...)::t must cast the whole filtered
    aggregate, not just the FILTER group."""
    from gpdb_spark.dialect import translate

    out = translate("SELECT count(*) FILTER (WHERE x = 1)::int8 AS n FROM t")
    assert "CAST(count(*) FILTER(WHERE x = 1) AS BIGINT)" in out.replace("  ", " "), out


def test_to_char_numeric_pg_examples(spark):
    """formatting.c NUM documented examples (PG manual Table 9.28)."""
    from gpdb_spark.functions.pg import to_char

    cases = [
        (485, "999", " 485"),
        (-485, "999", "-485"),
        (-48, "999", " -48"),
        (485, "0999", " 0485"),
        (1485, "9G999", " 1,485"),
        (148.5, "999D999", " 148.500"),
        (148.5, "FM999D999", "148.5"),
        # FM strips trailing zeros but KEEPS the decimal point
        # (numeric.out to_char_7: '74881.', '0.')
        (148.0, "FM999D999", "148."),
        (-485, "999S", "485-"),
        (-485, "999MI", "485-"),
        (485, "999MI", "485 "),
        (485, "S999", "+485"),
        (-48, "S999", " -48"),
        (-485, "999PR", "<485>"),
        (485, "999PR", " 485 "),
        (12345, "999", " ###"),
        (0.1, "FM9D9", ".1"),
        (1234567.891, "9G999G999D99", " 1,234,567.89"),
    ]
    df = spark.range(1)
    from pyspark.sql import functions as F

    exprs = [
        to_char(F.lit(float(v)), pat).alias(f"c{i}")
        for i, (v, pat, _) in enumerate(cases)
    ]
    row = df.select(*exprs).collect()[0]
    for i, (v, pat, want) in enumerate(cases):
        got = row[f"c{i}"]
        assert got == want, f"to_char({v}, {pat!r}) = {got!r}, want {want!r}"


def test_similar_to_and_fetch():
    out = translate("SELECT * FROM t WHERE name SIMILAR TO 'ab%_d'")
    assert "RLIKE '^(ab.*.d)$'" in out
    out2 = translate("SELECT * FROM t WHERE name NOT SIMILAR TO '(a|b)%'")
    assert "NOT(name RLIKE '^((a|b).*)$')" in out2.replace("NOT (", "NOT(")
    assert translate("SELECT x FROM t FETCH FIRST 5 ROWS ONLY").endswith(
        "LIMIT 5"
    )
    assert translate("SELECT x FROM t FETCH FIRST ROW ONLY").endswith("LIMIT 1")


def test_tablesample():
    out = translate("SELECT * FROM orders TABLESAMPLE BERNOULLI (10) REPEATABLE (42)")
    assert "TABLESAMPLE(10 PERCENT) REPEATABLE(42)" in out.replace("( ", "(")
    out2 = translate("SELECT * FROM orders TABLESAMPLE SYSTEM (5)")
    assert "TABLESAMPLE(5 PERCENT)" in out2.replace("( ", "(")


def test_dollar_params():
    out = translate("SELECT * FROM t WHERE a > $1 AND b = $2")
    assert ":p1" in out and ":p2" in out and "$" not in out


def test_explain_front_door(spark, sf_dir):
    """EXPLAIN <pg sql> through pg_sql returns the Motion-vocabulary plan
    as rows (the reference's EXPLAIN output surface), without executing;
    EXPLAIN ANALYZE executes JVM-side first."""
    out = pg_sql(
        spark,
        "EXPLAIN SELECT o_orderpriority, count(*) FROM orders "
        "GROUP BY o_orderpriority",
        sf_dir,
    )
    lines = [r.query_plan for r in out.collect()]
    text = "\n".join(lines)
    assert "slices:" in text  # Motion header
    assert any("Motion" in ln for ln in lines)


def test_like_operator_spellings(spark):
    """~~ / ~~* / !~~ / !~~* are the catalog spellings of LIKE family
    (like.c)."""
    rows = spark.sql(
        translate(
            "SELECT 'axx' ~~ 'a%' AS a, 'AXX' ~~* 'a%' AS b, "
            "'axx' !~~ 'b%' AS c, 'AXX' !~~* 'a%' AS d"
        )
    ).first()
    assert (rows.a, rows.b, rows.c, rows.d) == (True, True, True, False)


def test_between_symmetric(spark):
    out = translate("SELECT x BETWEEN SYMMETRIC 5 AND 1 AS r FROM t")
    assert "least" in out and "greatest" in out
    assert spark.sql(
        translate("SELECT 3 BETWEEN SYMMETRIC 5 AND 1 AS r")
    ).first().r is True


def test_array_subscripts_one_based(spark):
    """PG subscripts are 1-based; brackets must become element_at, not
    pass through to Spark's 0-based indexing (silent off-by-one)."""
    assert spark.sql(translate("SELECT (ARRAY[10,20,30])[1] AS r")).first().r == 10
    assert spark.sql(translate("SELECT ARRAY[1,2,3] AS r")).first().r == [1, 2, 3]
    assert spark.sql(translate("SELECT array_length(ARRAY[1,2], 1) AS r")).first().r == 2
    assert [r.r for r in spark.sql(translate("SELECT unnest(ARRAY[7,8]) AS r")).collect()] == [7, 8]


def test_dow_pg_numbering(spark):
    """PG: dow Sunday=0, isodow Sunday=7 (timestamp.c); Spark's DOW
    field is Sunday=1 — passthrough would be silently off by one."""
    r = spark.sql(
        translate(
            "SELECT extract(dow FROM DATE '2024-01-07') AS dow_sun, "
            "date_part('dow', DATE '2024-01-08') AS dow_mon, "
            "extract(isodow FROM DATE '2024-01-07') AS iso_sun"
        )
    ).first()
    assert (r.dow_sun, r.dow_mon, r.iso_sun) == (0, 1, 7)


def test_quantified_like_and_subqueries(spark):
    assert spark.sql(
        translate("SELECT 'ax' LIKE ANY (ARRAY['%x%','%y%']) AS r")
    ).first().r is True
    assert spark.sql(
        translate("SELECT 5 = ANY (SELECT id FROM range(10)) AS r")
    ).first().r is True
    assert spark.sql(
        translate("SELECT 50 <> ALL (SELECT id FROM range(10)) AS r")
    ).first().r is True


def test_table_shorthand_and_lock_strip(spark):
    assert len(spark.sql(translate("TABLE range(3)")).collect()) == 3
    assert len(
        spark.sql(translate("SELECT id FROM range(3) ORDER BY id FOR UPDATE")).collect()
    ) == 3


def test_at_time_zone(spark):
    # naive TIMESTAMP literal -> timestamptz (PG reverse direction,
    # timestamp.c timezone()): the instant when NY wall clock read noon
    # is 17:00 UTC (EST, January)
    r = spark.sql(
        translate(
            "SELECT TIMESTAMP '2024-01-01 12:00:00' AT TIME ZONE 'America/New_York' AS r"
        )
    ).first()
    assert r.r.hour == 17


def test_at_time_zone_both_directions(spark):
    """timestamp.c timezone(): instant->local for timestamptz operands
    (UTC-instant columns), local->instant for naive operands; the PG
    round trip col AT TIME ZONE z AT TIME ZONE z is the identity."""
    out = translate(
        "SELECT ts AT TIME ZONE 'Europe/Paris' AT TIME ZONE 'Europe/Paris' AS rt FROM events"
    )
    assert "to_utc_timestamp(from_utc_timestamp(ts" in out.replace(" ", "")
    r = spark.sql(
        "SELECT "
        + translate("TIMESTAMP '2024-07-01 00:30:00' AT TIME ZONE 'Asia/Kolkata'")
        + " AS x"
    ).first()
    # 00:30 IST (+05:30) = 19:00 UTC previous day
    assert (r.x.day, r.x.hour, r.x.minute) == (30, 19, 0)


def test_array_slices(spark):
    from gpdb_spark.dialect import pg_sql

    rows = pg_sql(
        spark,
        "SELECT (ARRAY[1,2,3,4,5])[2:4] AS a, (ARRAY[1,2,3])[2:] AS b, "
        "(ARRAY[1,2,3])[:2] AS c",
    ).collect()[0]
    assert rows["a"] == [2, 3, 4]
    assert rows["b"] == [2, 3]
    assert rows["c"] == [1, 2]


def test_string_escape_semantics(spark):
    """PG plain literals do not interpret backslashes (scan.l,
    standard_conforming_strings=on); E'...' does. regexp_replace without
    'g' replaces the first match only, flags fold away, and \\N
    replacement backrefs become Java's $N."""
    from gpdb_spark.dialect import pg_sql

    r = pg_sql(
        spark,
        r"SELECT length('a\nb') AS plain, length(E'a\nb') AS esc, "
        r"regexp_replace('a1b2', '\d', '#') AS first_only, "
        r"regexp_replace('a1b2', '\d', '#', 'g') AS all_g, "
        r"regexp_replace('john smith', '(\w+) (\w+)', '\2 \1') AS backref, "
        r"regexp_replace('AxbXc', 'x', '_', 'gi') AS ci",
    ).collect()[0]
    assert r["plain"] == 4 and r["esc"] == 3
    assert r["first_only"] == "a#b2" and r["all_g"] == "a#b#"
    assert r["backref"] == "smith john"
    assert r["ci"] == "A_b_c"


def test_substring_from_pattern(spark):
    """PG regex substring (textregexsubstr): first match, or group 1
    when the pattern captures; NULL on no match; positional form passes
    through untouched."""
    from gpdb_spark.dialect import pg_sql

    r = pg_sql(
        spark,
        r"SELECT substring('hello world' from 'o.b?w[a-z]+') AS m, "
        r"substring('foobar' from 'o(.)b') AS g, "
        r"substring('nomatch' from 'zzz') AS miss, "
        r"substring('hello' from 2 for 3) AS pos",
    ).collect()[0]
    assert r["m"] == "o world"
    assert r["g"] == "o"
    assert r["miss"] is None
    assert r["pos"] == "ell"


def test_string_to_array_literal_delim(spark):
    from gpdb_spark.dialect import pg_sql

    r = pg_sql(
        spark,
        "SELECT array_to_string(string_to_array('a.b.c', '.'), '|') AS dots, "
        "array_to_string(string_to_array('x++y', '++'), ',') AS plus, "
        "(string_to_array('p q r', ' '))[2] AS second",
    ).collect()[0]
    assert r["dots"] == "a|b|c"
    assert r["plus"] == "x,y"
    assert r["second"] == "q"


def test_jsonb_operators(spark):
    """jsonb @> <@ ? ?| ?& #- (jsonb_op.c:112 jsonb_contains family,
    jsonfuncs.c jsonb_delete_path) compiled over json text."""
    from gpdb_spark.dialect import pg_sql

    r = pg_sql(
        spark,
        """SELECT '{"a": 1, "b": {"c": 2}}'::jsonb @> '{"b": {"c": 2}}' AS y1,
                  '{"a": 1}'::jsonb @> '{"a": 2}' AS n1,
                  '{"a": [1,2,3]}'::jsonb @> '{"a": [2]}' AS y2,
                  '{"a": [1,2,3]}'::jsonb @> '{"a": [4]}' AS n2,
                  '[1,2,3]'::jsonb @> '[3, 1]' AS y3,
                  '{"a": 1}'::jsonb @> '{}' AS y4,
                  '{"a": null}'::jsonb @> '{"a": null}' AS y5,
                  '{"b": 1}'::jsonb @> '{"a": null}' AS n5,
                  '{"x": 1}'::jsonb <@ '{"x": 1, "y": 2}'::jsonb AS y6,
                  '{"x": 3}'::jsonb <@ '{"x": 1, "y": 2}'::jsonb AS n6,
                  '{"k": 1}'::jsonb ? 'k' AS y7,
                  '["tag"]'::jsonb ? 'tag' AS y8,
                  '{"k": 1}'::jsonb ?| ARRAY['z','k'] AS y9,
                  '{"k": 1}'::jsonb ?& ARRAY['z','k'] AS n9,
                  '{"a": 1, "b": 2}'::jsonb #- '{a}' AS del""",
    ).collect()[0]
    assert (r["y1"], r["y2"], r["y3"], r["y4"], r["y5"]) == (True,) * 5
    assert (r["n1"], r["n2"], r["n5"], r["n6"], r["n9"]) == (False,) * 5
    assert (r["y6"], r["y7"], r["y8"], r["y9"]) == (True,) * 4
    assert r["del"] == '{"b":"2"}'  # flat-object delete (scalar re-quoted)


def test_jsonb_non_literal_needle_raises():
    with pytest.raises(ValueError, match="literal"):
        translate("select a @> b from t")
    with pytest.raises(ValueError, match="literal"):
        translate("select a <@ b from t")


def test_overlaps_predicate(spark):
    """(a,b) OVERLAPS (c,d) — overlaps_timestamp (timestamp.c):
    pair-normalized half-open comparison, zero-length periods overlap
    anything starting at the same instant."""
    from gpdb_spark.dialect import pg_sql

    r = pg_sql(
        spark,
        "SELECT (DATE '1995-01-01', DATE '1995-02-01') OVERLAPS "
        "(DATE '1995-01-15', DATE '1995-03-01') AS y1, "
        "(DATE '1995-02-01', DATE '1995-01-01') OVERLAPS "
        "(DATE '1995-01-15', DATE '1995-03-01') AS y2, "
        "(DATE '1995-01-01', DATE '1995-01-15') OVERLAPS "
        "(DATE '1995-01-15', DATE '1995-03-01') AS n1, "
        "(DATE '1995-01-01', DATE '1995-01-01') OVERLAPS "
        "(DATE '1995-01-01', DATE '1995-03-01') AS y3",
    ).collect()[0]
    assert (r["y1"], r["y2"], r["y3"]) == (True, True, True)
    assert r["n1"] is False  # half-open: touching endpoints don't overlap


def test_regexp_replace_literal_dollar_and_alternation(spark):
    """Regression (round-3 advice): a literal $ in the replacement must
    be escaped before reaching Java (bare $ is a group reference —
    IllegalArgumentException or wrong substitution), and first-match-only
    rewriting must wrap alternation patterns in (?:) so a match via the
    first branch swallows the rest."""
    from gpdb_spark.dialect import pg_sql

    r = pg_sql(
        spark,
        r"SELECT regexp_replace('price 5', '\d+', '$5.00') AS dollar, "
        r"regexp_replace('cost 1 and 2', '(\d)', '$\1') AS mixed, "
        r"regexp_replace('xaybxc', 'a|x', '_') AS alt_first, "
        r"regexp_replace('xaybxc', 'a|x', '_', 'g') AS alt_all",
    ).collect()[0]
    assert r["dollar"] == "price $5.00"
    # without 'g': first match only, backref still substituted
    assert r["mixed"] == "cost $1 and 2"
    # PG: first match only — leftmost 'x' replaced, later a/x untouched
    assert r["alt_first"] == "_aybxc"
    assert r["alt_all"] == "__yb_c"


def test_multidim_arrays(spark):
    """Multi-dim array input + subscripting (arrayfuncs.c): nested
    ARRAY[[..],[..]] literals, chained 1-based subscripts, dim lengths."""
    from gpdb_spark.dialect import pg_sql

    r = pg_sql(
        spark,
        "SELECT (ARRAY[[1,2],[3,4]])[2][1] AS x, "
        "array_length(ARRAY[[1,2],[3,4]], 1) AS d1, "
        "array_length(ARRAY[[1,2],[3,4]], 2) AS d2, "
        "(ARRAY[10,20])[2] AS flat",
    ).collect()[0]
    assert (r["x"], r["d1"], r["d2"], r["flat"]) == (3, 2, 2, 20)


def test_jsonb_concat_set_build(spark):
    """jsonb || (jsonb_concat, right wins), jsonb_set, jsonb_build_object
    (jsonfuncs.c / json.c) — flat-object map discipline; plain string ||
    is untouched."""
    from gpdb_spark.dialect import pg_sql

    r = pg_sql(
        spark,
        """SELECT ('{"a": 1}'::jsonb || '{"b": 2, "a": 9}'::jsonb) ->> 'a' AS win,
                  ('{"a": 1}'::jsonb || '{"b": 2}'::jsonb) ->> 'b' AS add_b,
                  jsonb_build_object('x', 5, 'y', 'z') ->> 'x' AS bx,
                  jsonb_set('{"k": 1, "m": 2}'::jsonb, '{k}', '"new"') ->> 'k' AS sk,
                  jsonb_set('{"k": 1, "m": 2}'::jsonb, '{k}', '"new"') ->> 'm' AS sm,
                  'plain' || '_concat' AS s""",
    ).collect()[0]
    assert (r["win"], r["add_b"], r["bx"]) == ("9", "2", "5")
    assert (r["sk"], r["sm"]) == ("new", "2")
    assert r["s"] == "plain_concat"


class TestSrfFormatQuote:
    """format/quote_*/regexp_split/WITH ORDINALITY/ordered array_agg
    dialect rewrites (varlena.c text_format, quote.c, regexp.c,
    execSRF.c ordinality)."""

    def test_regexp_split_keeps_trailing_empties(self, spark, sf_dir):
        r = pg_sql(spark, "SELECT regexp_split_to_array('a,b,', ',') AS a", sf_dir).first()
        assert r.a == ["a", "b", ""]

    def test_format_placeholders(self, spark, sf_dir):
        r = pg_sql(
            spark, "SELECT format('%s|%I|%L|%%', NULL, 'My Col', NULL) AS f", sf_dir
        ).first()
        assert r.f == '|"My Col"|NULL|%'

    def test_with_ordinality_is_one_based_last(self, spark, sf_dir):
        rows = pg_sql(
            spark,
            "SELECT t.w, t.i FROM unnest(ARRAY['a','b']) WITH ORDINALITY AS t(w, i)",
            sf_dir,
        ).collect()
        assert [(r.w, r.i) for r in rows] == [("a", 1), ("b", 2)]

    def test_array_agg_order_by_other_key(self, spark, sf_dir):
        r = pg_sql(
            spark,
            "SELECT array_agg(n_name ORDER BY n_nationkey DESC) AS an "
            "FROM nation WHERE n_regionkey = 0",
            sf_dir,
        ).first()
        assert r.an == ["NATION_20", "NATION_15", "NATION_10", "NATION_5", "NATION_0"]

    def test_array_agg_distinct_ordered(self, spark, sf_dir):
        r = pg_sql(
            spark,
            "SELECT array_agg(DISTINCT n_regionkey ORDER BY n_regionkey) AS a FROM nation",
            sf_dir,
        ).first()
        assert r.a == [0, 1, 2, 3, 4]


class TestSqlCallableContribs:
    """Round-5: contrib functions must be callable from SQL TEXT (the
    form a migrating user's scripts use), not only the Column API."""

    def test_registry_registers_everything(self, spark):
        from gpdb_spark.functions.sql_registry import register_pg_functions

        r = register_pg_functions(spark)
        assert not r["skipped"], r
        for name in ("unaccent", "pg_soundex", "crypt", "metaphone",
                     "earth_distance", "network", "pg_size_pretty"):
            assert name in r["registered"], name

    def test_sql_matches_column_api(self, spark, sf_dir):
        """One implementation, two surfaces: SQL-text results must equal
        the Python Column API on real fixture data."""
        from pyspark.sql import functions as F

        from gpdb_spark.engine import Engine
        from gpdb_spark.functions.unaccent import unaccent
        from gpdb_spark.functions.fuzzy import soundex

        eng = Engine(spark, sf_dir)
        got = {
            r.k: (r.u, r.s)
            for r in eng.sql(
                "SELECT c_custkey AS k, unaccent(c_name) AS u, "
                "soundex(c_mktsegment) AS s FROM customer "
                "WHERE c_custkey < 50"
            ).collect()
        }
        want = {
            r.k: (r.u, r.s)
            for r in eng.table("customer")
            .where(F.col("c_custkey") < 50)
            .select(
                F.col("c_custkey").alias("k"),
                unaccent(F.col("c_name")).alias("u"),
                soundex(F.col("c_mktsegment")).alias("s"),
            )
            .collect()
        }
        assert got == want and len(got) > 0

    def test_sql_udf_stays_jvm_side(self, spark):
        """The expression-backed registrations must inline into Catalyst
        — no Python eval node for unaccent/soundex/inet calls."""
        from gpdb_spark.functions.sql_registry import register_pg_functions

        register_pg_functions(spark)
        plan = (
            spark.sql(
                "SELECT unaccent(x) AS u, pg_soundex(x) AS s, "
                "masklen(x) AS m FROM VALUES ('a/24') AS t(x)"
            )
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan

    def test_crypt_verify_idiom_in_sql(self, spark):
        """The reference's auth-check idiom, purely in SQL."""
        from gpdb_spark.functions.sql_registry import register_pg_functions

        register_pg_functions(spark)
        stored = spark.sql(
            "SELECT crypt('s3cret', '$1$abcdefgh') AS h"
        ).collect()[0].h
        ok = spark.sql(
            f"SELECT crypt('s3cret', '{stored}') = '{stored}' AS ok, "
            f"crypt('wrong', '{stored}') = '{stored}' AS bad"
        ).collect()[0]
        assert ok.ok is True and ok.bad is False

    def test_soundex_rewrite_skips_string_literals(self, spark, sf_dir):
        """The soundex->pg_soundex rename must not touch literal text."""
        from gpdb_spark.engine import Engine

        eng = Engine(spark, sf_dir)
        r = eng.sql(
            "SELECT 'call soundex(name) here' AS hint, "
            "soundex('Ashcraft') AS s"
        ).collect()[0]
        assert r.hint == "call soundex(name) here"
        assert r.s == "A226"  # PG table variant, not Spark's A261

    def test_soundex_rewrite_skips_dollar_quoted_literals(self):
        """Round-6 advice: dollar-quoted spans ($$..$$ and $tag$..$tag$)
        are literals too — the rewrite must leave their bodies alone and
        must not duplicate the tag text."""
        from gpdb_spark.dialect import _rewrite_soundex

        assert _rewrite_soundex(
            "select $$ soundex(q) $$, soundex(b)"
        ) == "select $$ soundex(q) $$, pg_soundex(b)"
        assert _rewrite_soundex(
            "select $fn$ body soundex(z) $fn$ || soundex(c)"
        ) == "select $fn$ body soundex(z) $fn$ || pg_soundex(c)"
        assert _rewrite_soundex(
            "select 'it''s soundex(x)', soundex(d)"
        ) == "select 'it''s soundex(x)', pg_soundex(d)"

    def test_metaphone_rejects_nonpositive_length(self, spark):
        from gpdb_spark.functions.sql_registry import register_pg_functions

        register_pg_functions(spark)
        assert (
            spark.sql("SELECT metaphone('Thompson', 4) AS m").collect()[0].m
        )
        with pytest.raises(Exception, match="length must be > 0"):
            spark.sql("SELECT metaphone('Thompson', 0)").collect()

    def test_gen_salt_crypt_idiom_random_per_call(self, spark):
        """gen_salt draws strong random per CALL (PG px_gen_salt) — two
        rows must get different salts, and the stored-hash verify idiom
        must close over them."""
        from gpdb_spark.functions.sql_registry import register_pg_functions

        register_pg_functions(spark)
        rows = spark.sql(
            "SELECT id, crypt('pw', gen_salt('md5')) AS h "
            "FROM range(4)"
        ).collect()
        salts = {r.h.split("$")[2] for r in rows}
        assert len(salts) == 4  # distinct per call
        h = rows[0].h
        assert spark.sql(
            f"SELECT crypt('pw', '{h}') = '{h}' AS ok"
        ).collect()[0].ok
        with pytest.raises(Exception, match="unsupported type"):
            spark.sql("SELECT gen_salt('bf')").collect()

    def test_array_type_casts(self, spark, sf_dir):
        """PG array-type casts ::int[] / CAST(x AS text[]) map to
        ARRAY<...> (round-6: the bracket suffix previously leaked into
        the subscript pass and produced element_at with no index)."""
        from gpdb_spark.engine import Engine

        eng = Engine(spark, sf_dir)
        r = eng.sql(
            "SELECT ARRAY[]::int[] AS empty_arr, "
            "ARRAY[1,2]::bigint[] AS big_arr, "
            "CAST(ARRAY['x'] AS text[]) AS txt_arr"
        ).collect()[0]
        assert r.empty_arr == []
        assert r.big_arr == [1, 2]
        assert r.txt_arr == ["x"]


class TestLiteralForms:
    """Round-6 literal & collation forms: dollar quotes, typed literals,
    brace-array casts, COLLATE, ARRAY(subquery)."""

    def test_dollar_quoted_literals(self):
        from gpdb_spark.dialect import translate

        assert translate("SELECT $$it's$$ AS s") == "SELECT 'it''s' AS s"
        # tagged form; inner $$ is literal text; backslashes stay literal
        assert (
            translate(r"SELECT $q$a$$b\n$q$ AS s")
            == r"SELECT 'a$$b\\n' AS s"
        )

    def test_dollar_params_still_work(self):
        from gpdb_spark.dialect import translate

        # $1 positional params must not be eaten by the dollar-quote arm
        out = translate("SELECT * FROM t WHERE x = $1")
        assert "$1" not in out or "?" in out or ":p1" in out or "$" in out

    def test_typed_literals(self):
        from gpdb_spark.dialect import translate

        assert translate("SELECT int8 '42'") == "SELECT CAST('42' AS BIGINT)"
        assert (
            translate("SELECT double precision '1.5'")
            == "SELECT CAST('1.5' AS DOUBLE)"
        )
        # Spark-native typed literals pass through untouched
        assert translate("SELECT date '2020-01-01'") == "SELECT date '2020-01-01'"

    def test_array_literal_casts(self):
        from gpdb_spark.dialect import translate

        assert (
            translate("SELECT '{1,2,3}'::int4[]")
            == "SELECT CAST(array('1', '2', '3') AS ARRAY<INT>)"
        )
        assert (
            translate("SELECT '{}'::int4[]")
            == "SELECT CAST(array() AS ARRAY<INT>)"
        )
        assert "NULL" in translate("SELECT '{a,NULL}'::text[]")
        # round 7: multi-dim brace literals build nested constructors
        # with the cast depth following the VALUE's dimensionality
        assert (
            translate("SELECT '{{1},{2}}'::int4[]")
            == "SELECT CAST(array(array('1'), array('2')) AS "
               "ARRAY<ARRAY<INT>>)"
        )
        # constant cardinality counts ALL elements (ArrayGetNItems)
        assert translate(
            "select cardinality('{{1,2},{3,4},{5,6}}'::int[])"
        ) == "select CAST(6 AS BIGINT)"

    def test_collate_c_drops_other_refuses(self):
        import pytest

        from gpdb_spark.dialect import translate

        assert (
            translate('SELECT a COLLATE "C" FROM t')
            == "SELECT a FROM t"
        )
        assert (
            translate('SELECT a COLLATE pg_catalog."POSIX" FROM t')
            == "SELECT a FROM t"
        )
        with pytest.raises(ValueError, match="COLLATE"):
            translate('SELECT a COLLATE "en_US" FROM t')

    def test_array_subquery_values(self, spark, sf_dir):
        from gpdb_spark.dialect import pg_sql

        spark.read.parquet(f"{sf_dir}/nation.parquet").createOrReplaceTempView(
            "nation"
        )
        row = pg_sql(
            spark,
            "SELECT array(SELECT n_name FROM nation "
            "WHERE n_regionkey = 1 ORDER BY n_name) AS a",
        ).collect()[0]
        assert row.a == sorted(row.a) and len(row.a) == 5
        row = pg_sql(
            spark,
            "SELECT array(SELECT n_name FROM nation "
            "WHERE n_regionkey = 1 ORDER BY n_name DESC) AS a",
        ).collect()[0]
        assert row.a == sorted(row.a, reverse=True) and len(row.a) == 5

    def test_malformed_cast_does_not_hang(self):
        # unbalanced paren before '::' used to loop forever in
        # _pass_casts; now it renders (and fails loudly at parse time)
        from gpdb_spark.dialect import translate

        translate("SELECT array ) :: int4 [ ] AS a")


class TestPgOperators:
    """Round-6 PG math/bit operator spellings: ^ power, # xor, shifts,
    |/ sqrt, @ abs, prefix ~, num_nonnulls, extract field extensions."""

    def test_power_not_xor(self):
        from gpdb_spark.dialect import translate

        assert translate("SELECT 2 ^ 3") == "SELECT pow(2, 3)"
        # left-assoc chain, like numeric_power via gram.y %left '^'
        assert translate("SELECT 2 ^ 3 ^ 2") == "SELECT pow(pow(2, 3), 2)"
        # unary minus binds looser than ^ in PG: -2 ^ 2 = -(2^2)
        assert translate("SELECT -2 ^ 2") == "SELECT - pow(2, 2)"

    def test_xor_and_shifts(self):
        from gpdb_spark.dialect import translate

        assert translate("SELECT 5 # 3") == "SELECT 5 ^ 3"
        assert translate("SELECT 1 << 4") == "SELECT shiftleft(1, 4)"
        assert translate("SELECT 16 >> 2") == "SELECT shiftright(16, 2)"

    def test_prefix_ops(self):
        from gpdb_spark.dialect import translate

        assert translate("SELECT |/ 25.0") == "SELECT sqrt(25.0)"
        assert translate("SELECT ||/ 27.0") == "SELECT cbrt(27.0)"
        assert translate("SELECT @ -5") == "SELECT abs(- 5)"
        # prefix ~ stays bitwise NOT; infix ~ stays a regex match
        assert translate("SELECT ~5") == "SELECT ~ 5"
        assert "RLIKE" in translate("SELECT 'x' ~ 'y'")
        # || concat (infix) is untouched by the ||/ prefix arm
        assert translate("SELECT a || '/'") == "SELECT a || '/'"

    def test_num_nonnulls_values(self, spark):
        from gpdb_spark.dialect import pg_sql

        row = pg_sql(
            spark,
            "SELECT num_nonnulls(1, NULL, 3) AS a, num_nulls(1, NULL) AS b",
        ).collect()[0]
        assert (row.a, row.b) == (2, 1)

    def test_extract_fields(self, spark):
        from gpdb_spark.dialect import pg_sql

        row = pg_sql(
            spark,
            "SELECT extract(isoyear from date '2016-01-01')::int4 AS iso,"
            " extract(century from date '2000-12-31')::int4 AS c20,"
            " extract(century from date '2001-01-01')::int4 AS c21,"
            " extract(decade from date '1999-12-31')::int4 AS dec,"
            " extract(millennium from date '2000-12-31')::int4 AS m2",
        ).collect()[0]
        # isoyear of 2016-01-01 is 2015 (ISO week 53 of 2015)
        assert (row.iso, row.c20, row.c21, row.dec, row.m2) == (
            2015, 20, 21, 199, 2,
        )


class TestMiscFuncsAndSrfs:
    """Round-6 idiom probe batch 3: ^@, to_hex, trunc, make_interval
    named args, isfinite, JSON SRFs, generate_subscripts."""

    def test_starts_with_forms(self, spark):
        from gpdb_spark.dialect import pg_sql

        row = pg_sql(
            spark,
            "SELECT 'alpha' ^@ 'al' AS op, starts_with('alpha', 'x') AS fn",
        ).collect()[0]
        assert (row.op, row.fn) == (True, False)

    def test_to_hex_lowercase(self, spark):
        from gpdb_spark.dialect import pg_sql

        assert pg_sql(spark, "SELECT to_hex(255) AS h").collect()[0].h == "ff"

    def test_numeric_trunc_toward_zero(self, spark):
        from gpdb_spark.dialect import pg_sql

        row = pg_sql(
            spark,
            "SELECT trunc(-1.7::float8) AS a, trunc(42.4382::float8, 2) AS b",
        ).collect()[0]
        assert (row.a, row.b) == (-1.0, 42.43)

    def test_make_interval_named_args(self, spark):
        from gpdb_spark.dialect import pg_sql
        import datetime

        row = pg_sql(
            spark,
            "SELECT (timestamp '2020-01-01 00:00:00'"
            " + make_interval(days => 1, hours => 2)) AS t",
        ).collect()[0]
        assert row.t == datetime.datetime(2020, 1, 2, 2, 0)

    def test_isfinite_null_preserving(self, spark):
        from gpdb_spark.dialect import pg_sql

        row = pg_sql(
            spark,
            "SELECT isfinite(date '2020-01-01') AS a,"
            " isfinite(CAST(NULL AS date)) AS b",
        ).collect()[0]
        assert (row.a, row.b) == (True, None)

    def test_json_srfs_in_from(self, spark):
        from gpdb_spark.dialect import pg_sql

        rows = pg_sql(
            spark,
            "SELECT key, value FROM json_each_text('{\"a\":1,\"b\":2}')"
            " ORDER BY key",
        ).collect()
        assert [(r.key, r.value) for r in rows] == [("a", "1"), ("b", "2")]
        rows = pg_sql(
            spark,
            "SELECT value::int4 AS v"
            " FROM json_array_elements_text('[3,1]') ORDER BY 1",
        ).collect()
        assert [r.v for r in rows] == [1, 3]

    def test_generate_subscripts_select_position(self, spark):
        from gpdb_spark.dialect import pg_sql

        rows = pg_sql(
            spark,
            "SELECT generate_subscripts(ARRAY[10,20,30], 1) AS i",
        ).collect()
        assert [r.i for r in rows] == [1, 2, 3]


class TestQuantifiedArraysHypo:
    """Round-6 probe batch 4: ANY/ALL subqueries, multi-array unnest,
    array family, ROW constructor, hypothetical-set SQL spellings."""

    def test_quantified_subquery_comparisons(self, spark, sf_dir):
        from gpdb_spark.dialect import pg_sql

        spark.read.parquet(f"{sf_dir}/nation.parquet").createOrReplaceTempView(
            "nation"
        )
        n = pg_sql(
            spark,
            "SELECT count(*) AS n FROM nation"
            " WHERE n_nationkey > ALL(SELECT 20 AS x)",
        ).collect()[0].n
        assert n == 4  # keys 21..24
        n = pg_sql(
            spark,
            "SELECT count(*) AS n FROM nation"
            " WHERE n_nationkey < ANY(SELECT 3 AS x UNION ALL SELECT 1)",
        ).collect()[0].n
        assert n == 3  # keys 0,1,2 are < max(3,1)

    def test_unnest_multi_array_zips_with_null_padding(self, spark):
        from gpdb_spark.dialect import pg_sql

        rows = pg_sql(
            spark,
            "SELECT a, b FROM unnest(ARRAY[1,2,3], ARRAY['x','y'])"
            " AS t(a, b) ORDER BY a",
        ).collect()
        assert [(r.a, r.b) for r in rows] == [(1, "x"), (2, "y"), (3, None)]

    def test_array_family_values(self, spark):
        from gpdb_spark.dialect import pg_sql

        row = pg_sql(
            spark,
            "SELECT array_positions(ARRAY[1,2,1], 1) AS p,"
            " array_replace(ARRAY[1,2,1], 1, 9) AS r,"
            " array_prepend(0, ARRAY[1]) AS pre,"
            " array_fill(7, ARRAY[3]) AS f,"
            " array_lower(ARRAY[1,2], 1) AS lo,"
            " array_upper(ARRAY[1,2], 1) AS hi,"
            " array_upper(ARRAY[]::int4[], 1) AS hi_empty,"
            " array_ndims(ARRAY[1]) AS nd",
        ).collect()[0]
        assert row.p == [1, 3] and row.r == [9, 2, 9]
        assert row.pre == [0, 1] and row.f == [7, 7, 7]
        assert (row.lo, row.hi, row.hi_empty, row.nd) == (1, 2, None, 1)

    def test_hypothetical_set_sql_spelling(self, spark, sf_dir):
        from gpdb_spark.dialect import pg_sql

        spark.read.parquet(f"{sf_dir}/nation.parquet").createOrReplaceTempView(
            "nation"
        )
        row = pg_sql(
            spark,
            "SELECT rank(12) WITHIN GROUP (ORDER BY n_nationkey) AS r,"
            " dense_rank(12) WITHIN GROUP (ORDER BY n_nationkey) AS dr,"
            " percent_rank(12) WITHIN GROUP (ORDER BY n_nationkey) AS pr,"
            " cume_dist(12) WITHIN GROUP (ORDER BY n_nationkey) AS cd"
            " FROM nation",
        ).collect()[0]
        # keys 0..24: 12 keys below 12 -> rank 13; pr 12/25; cd 14/26
        assert (row.r, row.dr) == (13, 13)
        assert abs(row.pr - 0.48) < 1e-12
        assert abs(row.cd - 14 / 26) < 1e-12
        # window rank() (zero args) is untouched by the rewrite
        rows = pg_sql(
            spark,
            "SELECT rank() OVER (ORDER BY n_nationkey) AS r FROM nation"
            " ORDER BY r LIMIT 2",
        ).collect()
        assert [r.r for r in rows] == [1, 2]


class TestRegressProbeFixes:
    """Round-6 regress-corpus probe fixes (tools/pg_regress_probe.py)."""

    def test_bytea_hex_literals(self, spark):
        from gpdb_spark.dialect import pg_sql

        row = pg_sql(
            spark,
            r"SELECT E'\\xDeAdBeEf'::bytea AS h, 'abc'::bytea AS t,"
            r" length(bytea '\xFF00')::int4 AS n",
        ).collect()[0]
        assert bytes(row.h) == bytes.fromhex("deadbeef")
        assert bytes(row.t) == b"abc" and row.n == 2

    def test_bytea_invalid_hex_refuses(self):
        import pytest

        from gpdb_spark.dialect import translate

        with pytest.raises(ValueError, match="hexadecimal"):
            translate(r"SELECT E'\\xDeAdBeE'::bytea")  # odd length
        with pytest.raises(ValueError, match="hexadecimal"):
            translate(r"SELECT E'\\xDeAdBeEx'::bytea")  # non-hex digit

    def test_ltrim_rtrim_two_arg_pg_order(self, spark):
        from gpdb_spark.dialect import pg_sql

        row = pg_sql(
            spark,
            "SELECT ltrim('zzzytrim', 'xyz') AS a,"
            " rtrim('trimxxxx', 'x') AS b, ltrim('  p') AS c",
        ).collect()[0]
        assert (row.a, row.b, row.c) == ("trim", "trim", "p")

    def test_regexp_matches_srf_semantics(self, spark):
        from gpdb_spark.dialect import pg_sql

        rows = pg_sql(
            spark,
            "SELECT regexp_matches('foobarbequebaz', '(bar)(beque)') AS m",
        ).collect()
        assert [r.m for r in rows] == [["bar", "beque"]]
        # no match -> ZERO rows, not a NULL row
        assert pg_sql(
            spark, "SELECT regexp_matches('foo', 'nope') AS m"
        ).count() == 0
        # 'i' flag; no capture group -> whole match
        rows = pg_sql(
            spark, "SELECT regexp_matches('fOObar', 'oo(ba)', 'i') AS m"
        ).collect()
        assert [r.m for r in rows] == [["ba"]]

    def test_like_custom_escape(self, spark):
        from gpdb_spark.dialect import pg_sql

        row = pg_sql(
            spark,
            "SELECT 'maca' LIKE 'm%aca' ESCAPE '%' AS a,"
            " 'ma%a' LIKE 'm%a%%a' ESCAPE '%' AS b,"
            " 'bear' NOT LIKE 'b_ear' ESCAPE '_' AS c",
        ).collect()[0]
        assert (row.a, row.b, row.c) == (True, True, False)

    def test_factorial_spellings(self, spark):
        from gpdb_spark.dialect import pg_sql

        row = pg_sql(spark, "SELECT 4! AS a, !!5 AS b, 1 != 2 AS c").collect()[0]
        assert (row.a, row.b, row.c) == (24, 120, True)

    def test_typmod_typed_literals(self, spark):
        from gpdb_spark.dialect import pg_sql

        row = pg_sql(
            spark,
            "SELECT char(20) 'chars' || '-t' AS a,"
            " (numeric(6,2) '123.45')::float8 AS b",
        ).collect()[0]
        assert (row.a, row.b) == ("chars-t", 123.45)


class TestDatetimeForms:
    """Round-6 date/time conformance batch (regress-probe DISAGREE
    sweep): PG-faithful values pinned from src/test/regress/expected
    (date.out, timestamptz.out, horology.out, arrays.out)."""

    def test_date_trunc_extended_fields(self, spark):
        from gpdb_spark.dialect import pg_sql

        row = pg_sql(
            spark,
            "SELECT date_trunc('century', DATE '2004-08-10') AS c,"
            " date_trunc('decade', DATE '1993-12-25') AS d,"
            " date_trunc('millennium', TIMESTAMP '1970-03-20 04:30:00') AS m",
        ).collect()[0]
        # PG: centuries/millennia start at xx01 (timestamp.c), NOT xx00
        assert str(row.c) == "2001-01-01 00:00:00"
        assert str(row.d) == "1990-01-01 00:00:00"
        assert str(row.m) == "1001-01-01 00:00:00"

    def test_naive_at_time_zone_direction(self, spark):
        from gpdb_spark.dialect import pg_sql

        row = pg_sql(
            spark,
            "SELECT '2011-03-27 00:00:00'::timestamp"
            " AT TIME ZONE 'Europe/Moscow' AS a,"
            " timestamp '2011-03-27 00:00:00' AT TIME ZONE 'MSK' AS b",
        ).collect()[0]
        # naive ts is a Moscow wall-clock reading -> instant 21:00 UTC
        # (the postfix ::timestamp spelling used to convert the wrong
        # direction); MSK resolves via tznames/Default -> Europe/Moscow
        assert str(row.a) == "2011-03-26 21:00:00"
        assert str(row.b) == "2011-03-26 21:00:00"

    def test_tstz_literal_zone_suffix(self, spark):
        from gpdb_spark.dialect import pg_sql

        row = pg_sql(
            spark,
            "SELECT '2014-10-26 00:59:59 MSK'::timestamptz AS a,"
            " '2011-03-26 21:00:00 UTC'::timestamptz AS b",
        ).collect()[0]
        # 2014-10-26 00:59:59 Moscow predates that night's +4 -> +3
        # switch, so the instant is 20:59:59 UTC (dynamic abbreviation)
        assert str(row.a) == "2014-10-25 20:59:59"
        assert str(row.b) == "2011-03-26 21:00:00"

    def test_make_timestamptz(self, spark):
        from gpdb_spark.dialect import pg_sql

        row = pg_sql(
            spark,
            "SELECT make_timestamptz(1973, 7, 15, 8, 15, 55.33, '+2') AS a,"
            " make_timestamptz(2014, 12, 10, 0, 0, 0, 'Europe/Prague')"
            " AT TIME ZONE 'UTC' AS b",
        ).collect()[0]
        assert str(row.a) == "1973-07-15 06:15:55.330000"
        assert str(row.b) == "2014-12-09 23:00:00"

    def test_flexible_date_input(self, spark):
        from gpdb_spark.dialect import pg_sql

        import pytest

        from gpdb_spark.dialect import set_date_order

        set_date_order("mdy")  # session default; other tests SET datestyle
        row = pg_sql(
            spark,
            "SELECT date '01/02/03' AS a,"
            " date '1999 08 01' AS c, date '08-Jan-99' AS d",
        ).collect()[0]
        # default DateStyle MDY: 01/02/03 is M/D/Y (date.out);
        # text-month forms (DecodeDate month tokens) normalize too
        assert str(row.a) == "2003-01-02"
        assert str(row.c) == "1999-08-01"
        assert str(row.d) == "1999-01-08"
        # '99-01-08' under MDY assigns month=99 — PG errors
        # (date.out golden; round 7 made DecodeDate order-faithful)
        with pytest.raises(ValueError, match="invalid input"):
            pg_sql(spark, "SELECT date '99-01-08' AS b", None)

    def test_date_plus_interval_is_timestamp(self, spark):
        from gpdb_spark.dialect import pg_sql

        df = pg_sql(
            spark,
            "SELECT date '1991-02-03' + interval '2 years' AS a,"
            " interval '2 years' + date '1991-02-03' AS b,"
            " date '2001-12-13' - interval '2 years' AS c",
        )
        assert [f.dataType.typeName() for f in df.schema.fields] == [
            "timestamp", "timestamp", "timestamp"]
        row = df.collect()[0]
        assert str(row.a) == "1993-02-03 00:00:00"
        assert str(row.c) == "1999-12-13 00:00:00"

    def test_string_to_array_contracts(self, spark):
        from gpdb_spark.dialect import pg_sql

        row = pg_sql(
            spark,
            "SELECT string_to_array('abc', '') AS whole,"
            " string_to_array('1|2|3', NULL) AS chars,"
            " string_to_array('', NULL) AS empty,"
            " string_to_array(NULL, '') AS nul,"
            " string_to_array('1,2,3,nil', ',', 'nil') AS sub",
        ).collect()[0]
        # text_to_array: '' delimiter -> whole string; NULL delimiter
        # -> per character; NULL input -> NULL; 3-arg null-string
        assert row.whole == ["abc"]
        assert row.chars == ["1", "|", "2", "|", "3"]
        assert row.empty == []
        assert row.nul is None
        assert row.sub == ["1", "2", "3", None]

    def test_multiword_timestamp_literal(self, spark):
        from gpdb_spark.dialect import pg_sql

        row = pg_sql(
            spark,
            "SELECT date_trunc('week', timestamp with time zone"
            " '2004-02-29 15:44:17.71393') AS a,"
            " timestamp without time zone '2004-02-29 01:02:03' AS b",
        ).collect()[0]
        assert str(row.a) == "2004-02-23 00:00:00"
        assert str(row.b) == "2004-02-29 01:02:03"


class TestRegressBatch6:
    """Round-6 regress-probe batch: intervals, format spec, array
    quantifiers, comments, variadic, JSON builders. PG-faithful values
    pinned from src/test/regress/expected (interval.out, text.out,
    arrays.out, json.out)."""

    def test_interval_fractional_and_units(self, spark):
        from gpdb_spark.dialect import pg_sql
        import datetime

        row = pg_sql(
            spark,
            "SELECT interval '1.5 weeks' AS a,"
            " '3 days 5 milliseconds'::interval AS b,"
            " interval '@ 0.70 secs' AS d,"
            " interval '500' AS f",
        ).collect()[0]
        # standalone select-list literals render interval_out TEXT
        # (round 8, field-split fidelity)
        assert row.a == "10 days 12:00:00"
        assert row.b == "3 days 00:00:00.005"
        assert row.d == "00:00:00.7"
        assert row.f == "00:08:20"

    def test_interval_repeated_fields_refuse(self, spark):
        """DecodeInterval's fmask check: a repeated interval field is
        invalid input (interval.out goldens: '1 day 1 day',
        '5.5 seconds 3 milliseconds', '1:20:05 5 microseconds' all
        ERROR — round-7 golden-probe finding; the earlier behavior
        summed them silently)."""
        import pytest

        from gpdb_spark.dialect import pg_sql

        for lit in ("1 day 1 day", "1 second 2 seconds",
                    "5.5 seconds 3 milliseconds",
                    "1:20:05 5 microseconds",
                    "10 milliseconds 20 milliseconds"):
            with pytest.raises(ValueError, match="invalid input syntax"):
                pg_sql(spark, f"SELECT '{lit}'::interval AS x", None)

    def test_interval_mixed_arithmetic(self, spark):
        from gpdb_spark.dialect import pg_sql

        row = pg_sql(
            spark,
            "SELECT timestamp '2001-12-27 00:00:00'"
            " + interval '1 year 2 mons 3 days 04:05:06.699999' AS a,"
            " timestamp '2001-12-27 00:00:00'"
            " - interval '1 day 2 hours ago' AS b,"
            " date '1991-02-03' + interval '1.5 months' AS c",
        ).collect()[0]
        # mixed year-month + day-time inputs build a CalendarInterval:
        # full arithmetic, PG-exact fraction spill (1.5 mons = 1 mon
        # 15 days; 'ago' negates)
        assert str(row.a) == "2003-03-02 04:05:06.699999"
        assert str(row.b) == "2001-12-28 02:00:00"
        assert str(row.c) == "1991-03-18 00:00:00"

    def test_format_positional_width_variadic(self, spark):
        from gpdb_spark.dialect import pg_sql

        row = pg_sql(
            spark,
            "SELECT format('%1$s %3$s', 1, 2, 3) AS a,"
            " format('Hello %s %1$s %s', 'World', 'again') AS b,"
            " format('>>%1$10s<<', 'Hello') AS c,"
            " format('>>%-10s<<', NULL) AS d,"
            " format('%2$s, %1$s', variadic array[1, 2]) AS e",
        ).collect()[0]
        assert row.a == "1 3"
        # positional resets the cursor: %s after %1$s reads arg 2
        assert row.b == "Hello World World again"
        assert row.c == ">>     Hello<<"
        assert row.d == ">>          <<"
        assert row.e == "2, 1"

    def test_array_quantifiers_and_append(self, spark):
        from gpdb_spark.dialect import pg_sql

        row = pg_sql(
            spark,
            "SELECT 33.4 = any (array[1,2,3]) AS a,"
            " 33.4 > all (array[1,2,3]) AS b,"
            " 33 = any (null::int[]) AS c,"
            " array[1,2] || 3 AS d,"
            " 0 || array[1,2] || 3 AS e",
        ).collect()[0]
        assert (row.a, row.b, row.c) == (False, True, None)
        assert row.d == [1, 2, 3]
        assert row.e == [0, 1, 2, 3]

    def test_comments_and_concat_precedence(self, spark):
        from gpdb_spark.dialect import pg_sql

        row = pg_sql(
            spark,
            "SELECT /* block /* nested */ ok */ 'x' AS a, -- tail\n"
            " 'four: ' || 2+2 AS b, concat(variadic array[1,2,3]) AS c,"
            " concat_ws(',', variadic array[1,2,3]) AS d",
        ).collect()[0]
        # PG: || binds below +, so the sum happens first
        assert (row.a, row.b) == ("x", "four: 4")
        assert (row.c, row.d) == ("123", "1,2,3")

    def test_json_builders(self, spark):
        from gpdb_spark.dialect import pg_sql

        row = pg_sql(
            spark,
            "SELECT row_to_json(row(1,'foo')) AS a,"
            " array_to_json(array[1,2,3]) AS b,"
            " json_extract_path('{\"f2\":{\"f3\":1}}','f2','f3') AS c",
        ).collect()[0]
        assert row.a == '{"f1":1,"f2":"foo"}'
        assert row.b == "[1,2,3]"
        assert row.c == "1"


class TestBitLiterals:
    """B'...' bit-string literals (varbit.c bit_in) — values pinned
    from src/test/regress/expected/bit.out."""

    def test_bit_position_concat(self, spark):
        from gpdb_spark.dialect import pg_sql

        row = pg_sql(
            spark,
            "SELECT position(B'1010' IN B'00001010') AS hit,"
            " position(B'1010' IN B'0000101') AS miss,"
            " position(B'' IN B'00001010') AS empty_needle,"
            " position(B'0' IN B'') AS empty_hay,"
            " B'0010' || B'1111' AS cat,"
            " B'1010' = B'1010' AS eq",
        ).collect()[0]
        assert (row.hit, row.miss) == (5, 0)
        assert (row.empty_needle, row.empty_hay) == (1, 0)
        assert row.cat == "00101111"
        assert row.eq is True

    def test_malformed_bit_literal_is_loud(self, spark):
        import pytest as _pt
        from gpdb_spark.dialect import pg_sql

        with _pt.raises(Exception):
            pg_sql(spark, "SELECT B'0102'").collect()


class TestFormatStarJsonObject:
    """Star-width format specs and json_object literals — values pinned
    from text.out / json.out."""

    def test_star_width_specs(self, spark):
        from gpdb_spark.dialect import pg_sql

        row = pg_sql(
            spark,
            "SELECT format('>>%*s<<', 10, 'Hello') AS a,"
            " format('>>%*1$s<<', 10, 'Hello') AS b,"
            " format('>>%2$*1$L<<', 10, 'Hello') AS c,"
            " format('>>%2$*1$L<<', -10, NULL) AS d,"
            " format('>>%2$*1$L<<', NULL, 'Hello') AS e",
        ).collect()[0]
        # '*n$' sets the cursor (varlena.c arg = widthpos; arg++), so
        # b pads 'Hello', not '10'; NULL width means no padding;
        # negative width left-aligns
        assert row.a == ">>     Hello<<"
        assert row.b == ">>     Hello<<"
        assert row.c == ">>   'Hello'<<"
        assert row.d == ">>NULL      <<"
        assert row.e == ">>'Hello'<<"

    def test_json_object_literals(self, spark):
        from gpdb_spark.dialect import pg_sql

        row = pg_sql(
            spark,
            "SELECT json_object('{a,b,c,\"d e f\"}','{1,2,3,\"a b c\"}') AS two,"
            " json_object('{{a,1},{b,2},{3,NULL},{\"d e f\",\"a b c\"}}') AS twod,"
            " json_object('{a,b,\"\",\"d e f\"}','{1,2,3,\"a b c\"}') AS emptyk",
        ).collect()[0]
        assert row.two == '{"a" : "1", "b" : "2", "c" : "3", "d e f" : "a b c"}'
        assert row.twod == '{"a" : "1", "b" : "2", "3" : null, "d e f" : "a b c"}'
        assert row.emptyk == '{"a" : "1", "b" : "2", "" : "3", "d e f" : "a b c"}'

    def test_json_null_path_and_null_key_loud(self, spark):
        import pytest as _pt
        from gpdb_spark.dialect import pg_sql

        row = pg_sql(
            spark,
            "SELECT '{\"a\": 1}'::json -> null::text AS a,"
            " '{\"a\": 1}'::json ->> null::int AS b",
        ).collect()[0]
        assert row.a is None and row.b is None
        with _pt.raises(Exception):
            # NULL object key: PG errors (json.out), the dialect
            # refuses loudly rather than guessing
            pg_sql(
                spark,
                "SELECT json_object('{a,NULL}','{1,2}')",
            ).collect()


class TestUnicodeRegexQuantifiers:
    """U&'' literals, regexp_matches 'g', LIKE ALL / NOT LIKE
    quantifiers, brace-literal quantifier arrays — pinned from
    strings.out / arrays.out."""

    def test_unicode_escape_literals(self, spark):
        import pytest as _pt
        from gpdb_spark.dialect import pg_sql

        row = pg_sql(
            spark,
            "SELECT U&'d\\0061t\\+000061' AS a,"
            " U&'d!0061t!+000061' UESCAPE '!' AS b,"
            " U&'backslash \\\\ ok' AS c",
        ).collect()[0]
        assert row.a == "data"
        assert row.b == "data"
        assert row.c == "backslash \\ ok"
        with _pt.raises(Exception):
            pg_sql(spark, "SELECT U&'wrong: \\061'")

    def test_regexp_matches_global(self, spark):
        from gpdb_spark.dialect import pg_sql

        rows = pg_sql(
            spark,
            "SELECT regexp_matches('foobarbequebazilbarfbonk',"
            " $re$(b[^b]+)(b[^b]+)$re$, 'g') AS m",
        ).collect()
        assert [r.m for r in rows] == [["bar", "beque"], ["bazil", "barf"]]
        rows2 = pg_sql(
            spark,
            "SELECT regexp_matches('aAbBab', 'a(b)', 'gi') AS m",
        ).collect()
        assert [r.m for r in rows2] == [["b"], ["b"]]

    def test_like_quantifiers(self, spark):
        from gpdb_spark.dialect import pg_sql

        row = pg_sql(
            spark,
            "SELECT 'foo' like all (array['f%', '%o']) AS a,"
            " 'foo' like all (array['f%', '%b']) AS b,"
            " 'foo' ilike all (array['F%', '%O']) AS c,"
            " 'foo' not like all (array['%a', '%o']) AS d,"
            " 'foo' not like any (array['%a', '%b']) AS e",
        ).collect()[0]
        assert (row.a, row.b, row.c, row.d, row.e) == (
            True, False, True, False, True)

    def test_brace_literal_quantifiers(self, spark):
        from gpdb_spark.dialect import pg_sql

        row = pg_sql(
            spark,
            "SELECT 33 = any ('{1,2,33}') AS a,"
            " 33 = any ('{1,null,3}') AS b,"
            " 33 = all ('{33,null,33}') AS c,"
            " 33 >= all ('{1,2,33}') AS d",
        ).collect()[0]
        # PG three-valued results (arrays.out): NULL elements decide
        # only when no definite answer exists
        assert (row.a, row.b, row.c, row.d) == (True, None, None, True)


class TestBoolJsonbLiterals:
    """bool prefix input (bool.c parse_bool_with_len), json/jsonb typed
    literals, #> ARRAY-constructor paths — boolean.out / jsonb.out."""

    def test_bool_prefix_inputs(self, spark):
        import pytest as _pt
        from gpdb_spark.dialect import pg_sql

        row = pg_sql(
            spark,
            "SELECT bool 'of' AS a, bool 'tru' AS b, bool 'yeS' AS c,"
            " bool 'n' AS d, bool '1' AS e",
        ).collect()[0]
        assert (row.a, row.b, row.c, row.d, row.e) == (
            False, True, True, False, True)
        for bad in ("o", "on_", "11", "nay", ""):
            with _pt.raises(Exception):
                pg_sql(spark, f"SELECT bool '{bad}'").collect()

    def test_jsonb_typed_literal_and_array_path(self, spark):
        from gpdb_spark.dialect import pg_sql

        row = pg_sql(
            spark,
            "SELECT jsonb '{\"a\":null, \"b\":\"qq\"}' ? 'a' AS a,"
            " '{\"f2\":{\"f3\":1},\"f4\":{\"f6\":\"stringy\"}}'::jsonb"
            "  #>> array['f4','f6'] AS b,"
            " '{\"f2\":[\"f3\",1]}'::jsonb #> array['f2','1'] AS c",
        ).collect()[0]
        assert row.a is True
        assert row.b == "stringy"
        assert row.c == "1"


def test_spaced_u_ampersand_is_not_unicode_literal():
    """``col_u & 'str'`` with spaces must stay a bit-and expression —
    U& adjacency is verified against the SOURCE text in the lexer."""
    from gpdb_spark.dialect import translate

    assert "u & 'str'" in translate("SELECT u & 'str' FROM t")
    assert "'data'" in translate("SELECT U&'d\\0061t\\0061'")


class TestIntervalFieldQualifiers:
    """Round-6 probe batch 7: INTERVAL '<lit>' field [TO field]
    [(p)] qualifiers (gram.y opt_interval + timestamp.c
    AdjustIntervalForTypmod) and the year-month fetch shim. Values
    pinned from src/test/regress/expected/interval.out."""

    def test_single_field_units(self, spark):
        from gpdb_spark.dialect import pg_sql
        import datetime

        row = pg_sql(
            spark,
            "SELECT interval '999' second AS a,"
            " interval '999' minute AS b,"
            " interval '2.5' day AS c,"
            " interval '14 months' year AS d,"
            " interval '1 year 2 mons 3 days' month AS e",
        ).collect()[0]
        # standalone select-list literals render interval_out TEXT
        # (round 8): the timedelta image collapses PG's (days, micros)
        # split and the ym shim ignores IntervalStyle
        assert row.a == "00:16:39"
        assert row.b == "16:39:00"
        # fraction spills to hours in DecodeInterval, then the DAY
        # qualifier's AdjustIntervalForTypmod zeroes the time part
        assert row.c == "2 days"
        # end-field truncation zeroes finer components
        assert row.d == "1 year" and row.e == "1 year 2 mons"

    def test_range_forms_truncate_below_end_field(self, spark):
        from gpdb_spark.dialect import pg_sql
        import datetime

        row = pg_sql(
            spark,
            "SELECT interval '1 2' day to hour AS a,"
            " interval '1 2:03:04' day to hour AS b,"
            " interval '1 2:03:04' day to minute AS c,"
            " interval '1 2:03:04' day to second AS d,"
            " interval '123 11' day to hour AS e",
        ).collect()[0]
        assert row.a == "1 day 02:00:00"
        assert row.b == "1 day 02:00:00"
        assert row.c == "1 day 02:03:00"
        assert row.d == "1 day 02:03:04"
        assert row.e == "123 days 11:00:00"

    def test_minute_to_second_rereads_two_part_time(self, spark):
        from gpdb_spark.dialect import pg_sql
        import datetime

        row = pg_sql(
            spark,
            "SELECT interval '12:34.5678' minute to second(2) AS a,"
            " interval '1 -2:03' minute to second AS b",
        ).collect()[0]
        # MM:SS reading + fsec rounding (00:12:34.57); '1 day -00:02:03'
        # as TEXT — PG's mixed-sign field split is unrepresentable in
        # a collected timedelta (exactly why standalone literals fold)
        assert row.a == "00:12:34.57"
        assert row.b == "1 day -00:02:03"

    def test_precision_prefix_and_suffix(self, spark):
        from gpdb_spark.dialect import pg_sql
        import datetime

        row = pg_sql(
            spark,
            "SELECT interval(2) '1 day 01:23:45.6789' AS a,"
            " interval(0) '1 day 01:23:45.6789' AS b,"
            " interval '10.56789' second(3) AS c",
        ).collect()[0]
        assert row.a == "1 day 01:23:45.68"
        assert row.b == "1 day 01:23:46"
        assert row.c == "00:00:10.568"

    def test_invalid_double_bare_number_is_loud(self, spark):
        import pytest
        from gpdb_spark.dialect import pg_sql

        # PG: invalid input syntax ('123 11' / '1 2' day to minute) —
        # must refuse, never silently sum unitless numbers as seconds
        for q in ("SELECT interval '123 11' AS i",
                  "SELECT interval '1 2' day to minute AS i"):
            with pytest.raises(Exception):
                pg_sql(spark, q, None).collect()

    def test_ym_interval_fetches_as_pg_text(self, spark):
        from gpdb_spark.dialect import pg_sql
        from gpdb_spark.pyspark_compat import ym_interval_out

        row = pg_sql(
            spark,
            "SELECT interval '1' year AS a,"
            " interval '999' month AS b,"
            " interval '-14 months' AS c,"
            " interval '1-2' year to month AS d,"
            " date '2001-09-28' + interval '1' month AS e",
        ).collect()[0]
        assert row.a == "1 year"
        assert row.b == "83 years 3 mons"
        assert row.c == "-1 years -2 mons"
        assert row.d == "1 year 2 mons"
        assert str(row.e) == "2001-10-28 00:00:00"
        assert ym_interval_out(0) == "00:00:00"
        assert ym_interval_out(1) == "1 mon"

    def test_variadic_array_with_cast_spreads(self, spark):
        from gpdb_spark.dialect import pg_sql

        row = pg_sql(
            spark,
            "SELECT format('%s, %s', variadic array[true, false]::text[])"
            " AS a,"
            " format('%s, %s', variadic array[1, 2]::text[]) AS b,"
            " concat_ws('-', variadic array[1, 2, 3]::text[]) AS c",
        ).collect()[0]
        # PG casts the array, THEN spreads (text_format variadic)
        assert row.a == "true, false"
        assert row.b == "1, 2"
        assert row.c == "1-2-3"


class TestJsonEachTyped:
    """Non-_text json_each / json_array_elements (jsonfuncs.c): values
    keep their JSON typing — string leaves stay quoted, numbers/null
    bare, composites re-serialized (compact; documented spacing
    divergence vs jsonb_each's ': ' only on composite leaves)."""

    def test_json_each_typed_values(self, spark):
        from gpdb_spark.dialect import pg_sql

        rows = pg_sql(
            spark,
            """SELECT * FROM json_each(
               '{"a":"x y","b":2,"c":[1,2],"d":null,"e":{"f":1}}')
               ORDER BY key""",
        ).collect()
        assert [(r.key, r.value) for r in rows] == [
            ("a", '"x y"'), ("b", "2"), ("c", "[1,2]"),
            ("d", "null"), ("e", '{"f":1}'),
        ]

    def test_jsonb_each_and_alias(self, spark):
        from gpdb_spark.dialect import pg_sql

        rows = pg_sql(
            spark,
            "SELECT t.key, t.value FROM jsonb_each('{\"k\":\"v\"}') AS t",
        ).collect()
        assert rows == [("k", '"v"')] or (
            rows[0].key == "k" and rows[0].value == '"v"')

    def test_json_array_elements_typed(self, spark):
        from gpdb_spark.dialect import pg_sql

        rows = pg_sql(
            spark,
            "SELECT value FROM json_array_elements("
            "'[\"a\",2,null,{\"b\":1}]')",
        ).collect()
        assert [r.value for r in rows] == ['"a"', "2", "null", '{"b":1}']
        # select-list position inlines as a bare generator
        rows2 = pg_sql(
            spark,
            "SELECT json_array_elements('[1,\"two\"]') AS v",
        ).collect()
        assert [r.v for r in rows2] == ["1", '"two"']

    def test_redundant_time_fields_are_loud(self, spark):
        import pytest
        from gpdb_spark.dialect import pg_sql

        # PG: invalid input syntax ('123 2:03 -2:04' — redundant hh:mm)
        with pytest.raises(Exception):
            pg_sql(spark,
                   "SELECT interval '123 2:03 -2:04' AS i", None).collect()


class TestEStringEscapes:
    """E'...' decoding per scan.l xe: octal, \\xhh hex, \\uXXXX /
    \\UXXXXXXXX, control escapes, literal-on-unknown — decoded by the
    engine (Spark's native escape set lacks octal/hex/\\U, so E'\\123'
    silently became '123' before)."""

    def test_octal_hex_unicode_control(self, spark):
        from gpdb_spark.dialect import pg_sql

        row = pg_sql(
            spark,
            r"SELECT E'\101\102' AS oct, E'\x41\x4a' AS hex,"
            r" E'a\nb' AS nl, E'A\U0001F600' AS uni,"
            r" E'\q' AS lit, E'\xZZ' AS barex",
        ).collect()[0]
        assert row.oct == "AB" and row.hex == "AJ"
        assert row.nl == "a\nb" and row.uni == "A\U0001F600"
        assert row.lit == "q" and row.barex == "xZZ"

    def test_estring_octal_to_bytea(self, spark):
        from gpdb_spark.dialect import pg_sql

        row = pg_sql(
            spark, r"SELECT E'De\123dBeEf'::bytea AS b", None
        ).collect()[0]
        assert bytes(row.b) == b"DeSdBeEf"

    def test_high_byte_escape_is_loud(self, spark):
        import pytest
        from gpdb_spark.dialect import pg_sql

        # a lone high byte is never valid UTF-8 (PG errors the same way)
        for q in (r"SELECT E'\377' AS s", r"SELECT E'\xFF' AS s"):
            with pytest.raises(Exception):
                pg_sql(spark, q, None).collect()


class TestJsonbFunctionSpellings:
    """jsonb_contains/contained/exists/exists_any/exists_all function
    spellings (jsonb_op.c registers them over the same C functions as
    @> <@ ? ?| ?&), jsonb_array_length, and the root-scalar
    containment rule ('[5]' @> '5' is true at the TOP level only —
    JsonbDeepContains)."""

    def test_function_spellings(self, spark):
        from gpdb_spark.dialect import pg_sql

        row = pg_sql(
            spark,
            """SELECT
              jsonb_contains('{"a":"b","b":1,"c":null}', '{"a":"b"}') AS a,
              jsonb_contains('{"a":"b"}', '{"a":"c"}') AS b,
              jsonb_contained('{"a":"b"}', '{"a":"b","b":1}') AS c,
              jsonb_contains('{"a":"b","c":null}', '{"c":null}') AS d,
              jsonb_exists('{"a":1,"b":2}', 'a') AS e,
              jsonb_exists_any('{"a":1}', ARRAY['x','a']) AS f,
              jsonb_exists_all('{"a":1}', ARRAY['x','a']) AS g,
              jsonb_array_length('[1,2,3,{"f1":1},4]') AS h""",
        ).collect()[0]
        assert (row.a, row.b, row.c, row.d) == (True, False, True, True)
        assert (row.e, row.f, row.g, row.h) == (True, True, False, 5)

    def test_root_scalar_containment(self, spark):
        from gpdb_spark.dialect import pg_sql

        row = pg_sql(
            spark,
            """SELECT '[5]'::jsonb @> '5' AS a,
                      '[1,2,3]'::jsonb @> '4' AS b,
                      '5'::jsonb @> '5' AS c,
                      '["a","b"]'::jsonb @> '"a"' AS d""",
        ).collect()[0]
        assert (row.a, row.b, row.c, row.d) == (True, False, True, True)

    def test_width_bucket_validation_parity(self, spark):
        import pytest
        from gpdb_spark.dialect import pg_sql

        # float.c width_bucket_float8: PG errors where Spark's builtin
        # is NULL-lenient
        assert pg_sql(
            spark, "SELECT width_bucket(5.35, 0.024, 10.06, 5) AS x", None
        ).collect()[0].x == 3
        for q in ("SELECT width_bucket(5.0, 3.0, 4.0, 0) AS x",
                  "SELECT width_bucket(3.5, 3.0, 3.0, 888) AS x"):
            with pytest.raises(Exception, match="USER_RAISED|bound|zero"):
                pg_sql(spark, q, None).collect()

    def test_json_literal_input_validation(self, spark):
        import pytest
        from gpdb_spark.dialect import pg_sql

        # json_in/jsonb_in validate input; the identity cast must too
        assert pg_sql(
            spark, """SELECT '{"a":1}'::json AS j""", None
        ).collect()[0].j == '{"a":1}'
        for q in ("""SELECT '{"a":1'::json AS j""",
                  "SELECT 'junk'::jsonb AS j"):
            with pytest.raises(ValueError, match="invalid input syntax"):
                pg_sql(spark, q, None)


class TestRound7AdviceFixes:
    """The five round-7 ADVICE.md items, pinned."""

    def test_set_timezone_guc_exact_match(self, spark):
        # SET timezone_abbreviations must NOT be misrouted into the
        # TimeZone path (old code matched name.startswith('time'))
        from gpdb_spark.engine import Engine

        eng = Engine(spark)
        eng.sql("SET TIME ZONE 'America/New_York'")
        assert spark.conf.get("spark.sql.session.timeZone") == \
            "America/New_York"
        eng.sql("SET timezone_abbreviations TO 'Default'")
        assert spark.conf.get("spark.sql.session.timeZone") == \
            "America/New_York"  # unchanged by the unrelated GUC
        eng.sql("SET TIME ZONE DEFAULT")
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"

    def test_json_srf_after_select_list_comma(self, spark):
        from gpdb_spark.dialect import translate

        out = translate("SELECT id, json_array_elements_text(j) FROM t")
        # select-list path (bare explode), not a derived-table rewrite
        assert "explode" in out and "SELECT id, explode" in out

    def test_json_literal_rejects_nan_infinity(self):
        import pytest

        from gpdb_spark.dialect import translate

        for lit in ("'NaN'", "'Infinity'", "'-Infinity'"):
            with pytest.raises(ValueError, match="invalid input syntax"):
                translate(f"SELECT {lit}::json")

    def test_uescape_surrogate_pairs(self):
        import pytest

        from gpdb_spark.dialect import translate

        assert "😄" in translate(r"SELECT U&'\D83D\DE04' AS u")
        with pytest.raises(ValueError, match="surrogate"):
            translate(r"SELECT U&'\D83D' AS u")

    def test_brace_array_cast_element_concat(self, spark):
        from gpdb_spark.dialect import pg_sql

        row = pg_sql(
            spark,
            "SELECT array_to_string('{1,2}'::int[] || 3, ',') AS a, "
            "array_to_string(0 || '{1,2}'::int[], ',') AS b",
            None,
        ).collect()[0]
        assert row.a == "1,2,3" and row.b == "0,1,2"


class TestDCHFromChar:
    """to_date/to_timestamp literal folding through the faithful Python
    DCH_from_char (formatting.c) — every value pinned from
    horology.out goldens, including PG's one-input-char-per-pattern-
    char space rule and the exotic tokens Java patterns can't spell."""

    def test_exotic_tokens(self):
        from gpdb_spark.dialect import _dch_from_char, _dch_resolve

        def run(val, fmt):
            y, mo, d, h, mi, s, us = _dch_resolve(_dch_from_char(val, fmt))
            t = f"{y:04d}-{mo:02d}-{d:02d} {h:02d}:{mi:02d}:{s:02d}"
            return t + (f".{us:06d}".rstrip("0") if us else "")

        assert run("1,582nd VIII 21", "Y,YYYth FMRM DD") == \
            "1582-08-21 00:00:00"
        assert run("2005426", "YYYYWWD") == "2005-10-15 00:00:00"
        assert run("2005300", "YYYYDDD") == "2005-10-27 00:00:00"
        assert run("2005527", "IYYYIWID") == "2006-01-01 00:00:00"
        assert run("2005364", "IYYYIDDD") == "2006-01-01 00:00:00"
        assert run("3 4 21 01", "W MM CC YY") == "2001-04-15 00:00:00"
        assert run("2458872", "J") == "2020-01-23 00:00:00"
        assert run("2015-02-11 86000", "YYYY-MM-DD SSSS") == \
            "2015-02-11 23:53:20"
        assert run("2011-12-18 11:38 P.M.",
                   "YYYY-MM-DD HH12:MI P.M.") == "2011-12-18 23:38:00"
        assert run("2018-11-02 12:34:56.025",
                   "YYYY-MM-DD HH24:MI:SS.MS") == "2018-11-02 12:34:56.025"

    def test_space_discipline(self):
        """Non-FX: each literal pattern char consumes ONE input char —
        an extra pattern space eats a digit (horology.out pins this)."""
        from gpdb_spark.dialect import _dch_from_char, _dch_resolve

        def run(val, fmt):
            return _dch_resolve(_dch_from_char(val, fmt))[:6]

        assert run("2011-12-18 23:38:15", "YYYY-MM-DD  HH24:MI:SS") == \
            (2011, 12, 18, 3, 38, 15)
        assert run("2011-12-18  23:38:15", "YYYY-MM-DD HH24:MI:SS") == \
            (2011, 12, 18, 23, 38, 15)
        assert run("2011 12 18", "YYYY  MM DD") == (2011, 2, 18, 0, 0, 0)
        assert run("  20050302", "YYYYMMDD") == (2005, 3, 2, 0, 0, 0)

    def test_errors_are_loud(self):
        import pytest

        from gpdb_spark.dialect import _dch_from_char, _dch_resolve

        with pytest.raises(ValueError, match="Mon"):
            _dch_from_char("97/Feb/16", "YYMonDD")
        with pytest.raises(ValueError, match="not supported"):
            _dch_from_char("2011-12-18 11:38 PST",
                           "YYYY-MM-DD HH12:MI TZ")
        with pytest.raises(ValueError):
            _dch_resolve(_dch_from_char("2015 366", "YYYY DDD"))

    def test_sql_front_door_fold(self, spark):
        from gpdb_spark.dialect import pg_sql

        row = pg_sql(
            spark,
            "SELECT to_date('1 4 1902', 'Q MM YYYY') AS a,"
            " to_timestamp('05121445482000', 'MMDDHH24MISSYYYY')::text AS b",
            None,
        ).collect()[0]
        assert str(row.a) == "1902-04-01"
        assert row.b.startswith("2000-05-12 14:45:48")


class TestJsonbFold:
    """jsonb literal canonicalization + constant op algebra (round 7;
    jsonb_util.c / jsonb_op.c) — values pinned from jsonb.out goldens."""

    def test_canonical_rendering(self):
        from gpdb_spark.dialect import translate

        assert translate("SELECT '[1,2]'::jsonb") == "SELECT '[1, 2]'"
        assert translate("SELECT '{\"abc\":1}'::jsonb") == \
            "SELECT '{\"abc\": 1}'"
        # key order is (length, bytes); duplicate keys keep the last
        assert translate("SELECT '{\"aa\":1,\"b\":2}'::jsonb") == \
            "SELECT '{\"b\": 2, \"aa\": 1}'"
        assert translate("SELECT '{\"a\":1,\"a\":2}'::jsonb") == \
            "SELECT '{\"a\": 2}'"
        # numbers render through numeric_out (no exponent)
        out = translate("SELECT '1e100'::jsonb")
        assert out == "SELECT '1" + "0" * 100 + "'"

    def test_constant_operators(self):
        from gpdb_spark.dialect import translate

        t = translate
        assert t("select '[{\"b\": \"c\"}, {\"b\": \"cc\"}]'::jsonb -> 1"
                 ) == "select '{\"b\": \"cc\"}'"
        assert t("select '{\"b\": null}'::jsonb -> 'b'") == "select 'null'"
        # 9.4-vintage jsonb (the reference's): negative indexes are
        # misses, not end-relative (expected/jsonb.out pins '')
        assert t("select '[1,2,null]'::jsonb -> -1") == "select NULL"
        assert t("SELECT '{\"a\":1}'::jsonb @> '{\"a\":1}'") == \
            "SELECT TRUE"
        # null-valued needle key does NOT match a different value
        assert t("SELECT '{\"a\":\"b\",\"c\":null}'::jsonb "
                 "@> '{\"a\":\"b\", \"c\":\"q\"}'") == "SELECT FALSE"
        assert t("SELECT '{\"a\":{\"b\":\"x\"}}'::jsonb#>array['a','b']"
                 ) == "SELECT '\"x\"'"
        assert t("SELECT '{\"a\":{\"b\":\"x\"}}'::jsonb#>>array['a','b']"
                 ) == "SELECT 'x'"
        assert t("SELECT jsonb '{\"a\":1}' ?| '{}'::text[]") == \
            "SELECT FALSE"
        assert t("SELECT jsonb_typeof('1e2') AS n") == "SELECT 'number' AS n"
        assert t("SELECT jsonb_extract_path_text("
                 "'{\"f\":[\"x\",1]}','f',1::text)") == "SELECT '1'"

    def test_errors_are_loud(self):
        import pytest

        from gpdb_spark.dialect import translate

        with pytest.raises(ValueError, match="non-array|scalar"):
            translate("SELECT jsonb_array_length('4')")
        with pytest.raises(ValueError, match="invalid input"):
            translate("SELECT '{\"a\":'::jsonb")


class TestMoneyIntervalFold:
    """money through the SQL front door (cash.c) and the constant
    interval algebra (round 7) — values pinned from money.out /
    interval.out goldens."""

    def test_money_literals_and_arithmetic(self):
        from gpdb_spark.dialect import translate

        t = translate
        assert t("SELECT 1234567890::money") == \
            "SELECT '$1,234,567,890.00'"
        assert t("SELECT (-12345)::money") == "SELECT '-$12,345.00'"
        assert t("SELECT 12345678901234567::numeric::money") == \
            "SELECT '$12,345,678,901,234,567.00'"
        # cash_div_int truncates; cash_div_flt rounds (rint)
        assert t("SELECT '878.08'::money / 11::int") == "SELECT '$79.82'"
        assert t("SELECT '878.08'::money / 11::float8") == \
            "SELECT '$79.83'"
        assert t("SELECT '90000000000000099.00'::money / 10::int") == \
            "SELECT '$9,000,000,000,000,009.90'"
        assert "DECIMAL(38,2)" in t(
            "SELECT '12345678901234567'::money::numeric")

    def test_interval_iso8601_and_algebra(self):
        from gpdb_spark.dialect import translate

        t = translate
        assert t("SELECT interval 'P1Y2M3DT4H5M6.7S' AS f") == \
            "SELECT '1 year 2 mons 3 days 04:05:06.7' AS f"
        assert t("SELECT INTERVAL '10 years -11 month -12 days +13:14'"
                 ) == "SELECT '9 years 1 mon -12 days +13:14:00'"
        assert t("SELECT justify_interval(interval '1 month -1 hour')"
                 ) == "SELECT '29 days 23:00:00'"
        assert t("SELECT justify_hours(interval '52 hours')") == \
            "SELECT '2 days 04:00:00'"
        assert t("select '30 days'::interval = '1 month'::interval as x"
                 ) == "select TRUE as x"
        assert t("select make_interval(years := 1, months := 6) AS m"
                 ) == "select '1 year 6 mons' AS m"
        # mixed-SIGN day-time folds to the field-preserving text
        assert t("SELECT interval '+1 -1:00:00'") == \
            "SELECT '1 day -01:00:00'"
        # standalone select-list literals render text; OPERAND
        # positions keep the native (typed) path
        assert t("SELECT interval '1 day'") == "SELECT '1 day'"
        assert "make_dt_interval" in t(
            "SELECT x FROM t WHERE y > interval '1 day'")
        # sub-day ts arithmetic is physical-instant since r8
        # (_pass_interval_physical — see TestDstIntervalArithmetic)
        assert "unix_micros" in t(
            "SELECT timestamp '2001-01-01' + interval '2 hours'")

    def test_interval_styles(self):
        from gpdb_spark.dialect import set_interval_style, translate

        try:
            set_interval_style("postgres_verbose")
            assert translate("select interval '1 year 2 mons 3 days "
                             "04:05:06.699999'") == \
                "select '@ 1 year 2 mons 3 days 4 hours 5 mins " \
                "6.699999 secs'"
            set_interval_style("sql_standard")
            assert translate("SELECT interval '1-2'") == "SELECT '1-2'"
            assert translate("SELECT interval '1 day -1 hours'") == \
                "SELECT '+0-0 +1 -1:00:00'"
            set_interval_style("iso_8601")
            assert translate("SELECT interval '1 2:03:04'") == \
                "SELECT 'P1DT2H3M4S'"
        finally:
            set_interval_style("postgres")


class TestRound8VerdictFixes:
    """The three round-7 silent-wrong residues (VERDICT r07 'What's
    wrong' #1-3), pinned against the reference goldens
    (expected/numeric.out to_number_3..5, formatting.c DCH_TZ/DCH_OF,
    expected/arrays.out general-parser block)."""

    def test_to_number_trailing_sign(self, spark):
        from gpdb_spark.dialect import translate

        cases = [
            ("to_number('<564646.654564>', '999999.999999PR')",
             "-564646.654564"),
            ("to_number('0.00001-', '9.999999S')", "-0.00001"),
            ("to_number('5.01-', 'FM9.999999S')", "-5.01"),
            ("to_number('5.01-', 'FM9.999999MI')", "-5.01"),
            ("to_number('.-01', 'S99.99')", "-0.01"),
            ("to_number('-34,338,492.654,878', '99G999G999D999G999')",
             "-34338492.654878"),
            ("to_number('5 4 4 4 4 8 . 7 8', '9 9 9 9 9 9 . 9 9')",
             "544448.78"),
            ("to_number('.01', 'FM9.99')", "0.01"),
            ("to_number('0', '99.99')", "0"),
        ]
        for expr, want in cases:
            got = spark.sql(translate(f"SELECT {expr} AS v")).collect()[0][0]
            assert float(got) == float(want), (expr, got, want)

    def test_to_number_column_sign(self, spark):
        from gpdb_spark.dialect import translate

        spark.createDataFrame(
            [("5.01-",), ("-3.5",), ("<42>",), ("7.25",)], ["s"]
        ).createOrReplaceTempView("tn_col_tst")
        rows = spark.sql(translate(
            "SELECT to_number(s, '9999.99MI') AS v FROM tn_col_tst "
            "ORDER BY v"
        )).collect()
        assert [float(r[0]) for r in rows] == [-42.0, -5.01, -3.5, 7.25]

    def test_to_char_tz_of(self, spark):
        from gpdb_spark.dialect import translate

        old = spark.conf.get("spark.sql.session.timeZone")
        try:
            spark.conf.set("spark.sql.session.timeZone", "PST8PDT")
            cases = [
                # tstz: session zone abbreviation honoring DST
                ("to_char(timestamptz '2005-07-01 12:00:00', 'TZ')", "PDT"),
                ("to_char(timestamptz '2005-01-01 12:00:00', 'TZ')", "PST"),
                ("to_char(timestamptz '2005-01-01 12:00:00', 'tz')", "pst"),
                ("to_char(timestamptz '2005-07-01 12:00:00', 'OF')", "-07"),
                # naive: TZ renders '', OF renders '+00' (tm_gmtoff=0)
                ("to_char(timestamp '2005-07-01 12:00:00', 'TZ')", ""),
                ("to_char(timestamp '2005-07-01 12:00:00', 'OF')", "+00"),
                # quoted "TZ" literal survives; bare TZ is the token
                ("to_char(timestamp '2005-07-01', 'YYYY TZ \"TZ\"')",
                 "2005  TZ"),
            ]
            for expr, want in cases:
                got = spark.sql(
                    translate(f"SELECT {expr} AS v")).collect()[0][0]
                assert got == want, (expr, got, want)
        finally:
            spark.conf.set("spark.sql.session.timeZone", old)

    def test_multidim_array_rectangularity(self):
        import pytest

        from gpdb_spark.dialect import translate

        # accepted: rectangular forms
        translate("SELECT '{{1,2},{3,4}}'::int[]")
        translate(
            "SELECT '{{{1,2,3,4},{2,3,4,5}},{{3,4,5,6},{4,5,6,7}}}'"
            "::text[]")
        # rejected exactly where arrayfuncs.c array_in rejects
        with pytest.raises(ValueError, match="matching dimensions"):
            translate("SELECT '{{1,2},{3}}'::int[]")
        with pytest.raises(ValueError, match="matching dimensions"):
            translate("SELECT cardinality('{{1,2},{3}}'::int[])")
        with pytest.raises(ValueError, match='Unexpected "{"'):
            translate("SELECT '{1,{2,3}}'::int[]")
        with pytest.raises(ValueError, match='Unexpected "{"'):
            translate("SELECT '{{1,{2}},{2,3}}'::text[]")
        with pytest.raises(ValueError, match='Unexpected "}"'):
            translate("SELECT '{{},{}}'::text[]")


class TestDstIntervalArithmetic:
    """timestamp.c timestamptz_pl_interval (round 8 — VERDICT r07
    missing #1a): interval DAY components advance the session-zone
    calendar (wall-preserving across DST), HOUR components advance the
    physical instant. Pinned against horology.out's CST7CDT block
    (offset-identical MST7MDT stands in — the JDK tzdb has no
    CST7CDT)."""

    def test_day_vs_hours_across_spring_forward(self, spark):
        from gpdb_spark.dialect import translate

        old = spark.conf.get("spark.sql.session.timeZone")
        try:
            spark.conf.set("spark.sql.session.timeZone", "MST7MDT")
            cases = [
                ("timestamp with time zone '2005-04-02 12:00-07' "
                 "+ interval '1 day'", "2005-04-03 12:00:00 MDT"),
                ("timestamp with time zone '2005-04-02 12:00-07' "
                 "+ interval '24 hours'", "2005-04-03 13:00:00 MDT"),
                ("timestamp with time zone '2005-04-03 12:00-06' "
                 "- interval '1 day'", "2005-04-02 12:00:00 MST"),
                ("timestamp with time zone '2005-04-03 12:00-06' "
                 "- interval '24 hours'", "2005-04-02 11:00:00 MST"),
            ]
            for expr, want in cases:
                t = translate(f"SELECT {expr}")
                got = spark.sql(
                    "SELECT date_format(" + t[len("SELECT "):]
                    + ", 'yyyy-MM-dd HH:mm:ss zzz') AS v"
                ).collect()[0][0]
                assert got == want, (expr, got, want)
        finally:
            spark.conf.set("spark.sql.session.timeZone", old)

    def test_sub_day_rewrite_shapes(self):
        from gpdb_spark.dialect import translate

        # sub-day part -> physical instant arithmetic
        out = translate("SELECT now() + interval '2 hours'")
        assert "unix_micros" in out and "+ 7200000000" in out
        # day-only stays native (wall/calendar — already PG-correct)
        out = translate("SELECT now() + interval '3 days'")
        assert "unix_micros" not in out
        # mixed: day part wall, time part physical
        out = translate("SELECT now() - interval '1 day 2 hours'")
        assert "make_dt_interval(1, 0, 0, 0)" in out \
            and "- 7200000000" in out
        # interval+interval constant folding is untouched
        assert translate("SELECT interval '1 day' + interval '2 hours'") \
            == "SELECT '1 day 02:00:00'"
        # TIME literal arithmetic folds before this pass and stays TIME
        assert translate("SELECT time '11:00' + interval '3 hours'") \
            == "SELECT TIME '14:00:00'"


class TestEnumFold:
    """Enum front door (pg_enum.c/enum.c, round 8 — VERDICT r07
    missing #3), pinned against expected/enum.out."""

    def _reg(self):
        from gpdb_spark.dialect import register_enum, reset_enums

        reset_enums()
        register_enum("rainbow", ["red", "orange", "yellow", "green",
                                  "blue", "purple"])
        register_enum("rgb", ["red", "green", "blue"])

    def test_literal_casts_and_validation(self):
        import pytest

        from gpdb_spark.dialect import translate

        self._reg()
        try:
            assert translate("SELECT 'red'::rainbow") == "SELECT 'red'"
            assert translate("SELECT rainbow 'green'") == "SELECT 'green'"
            with pytest.raises(ValueError,
                               match="invalid input value for enum"):
                translate("SELECT 'mauve'::rainbow")
            # domain/sibling constraint carries through a chained cast
            with pytest.raises(ValueError, match="invalid input value"):
                translate("SELECT 'purple'::rainbow::rgb")
            assert translate("SELECT 'red'::text::rainbow = "
                             "'red'::rainbow") \
                == "SELECT CAST('red' AS STRING) = 'red'"
        finally:
            from gpdb_spark.dialect import reset_enums
            reset_enums()

    def test_support_functions_and_arrays(self):
        from gpdb_spark.dialect import translate

        self._reg()
        try:
            t = translate
            assert t("SELECT enum_first(NULL::rainbow)") == "SELECT 'red'"
            assert t("SELECT enum_last('green'::rainbow)") \
                == "SELECT 'purple'"
            assert t("SELECT enum_range('orange'::rainbow, "
                     "'green'::rainbow)") \
                == "SELECT array('orange', 'yellow', 'green')"
            assert t("SELECT enum_range(NULL, 'green'::rainbow)") \
                == "SELECT array('red', 'orange', 'yellow', 'green')"
            assert t("SELECT enum_range('orange'::rainbow, NULL)") \
                == ("SELECT array('orange', 'yellow', 'green', 'blue',"
                    " 'purple')")
            assert t("SELECT '{red,green,blue}'::rainbow[]") \
                == "SELECT array('red', 'green', 'blue')"
        finally:
            from gpdb_spark.dialect import reset_enums
            reset_enums()

    def test_alter_type_add_value(self):
        import pytest

        from gpdb_spark.dialect import (enum_add_value, register_enum,
                                        reset_enums, translate)

        reset_enums()
        try:
            register_enum("planets", ["venus", "earth", "mars"])
            enum_add_value("planets", "mercury", before="venus")
            enum_add_value("planets", "jupiter", after="mars")
            assert translate("SELECT enum_first(NULL::planets)") \
                == "SELECT 'mercury'"
            assert translate("SELECT enum_last(NULL::planets)") \
                == "SELECT 'jupiter'"
            with pytest.raises(ValueError, match="already exists"):
                enum_add_value("planets", "mercury")
            with pytest.raises(ValueError, match="63 characters"):
                enum_add_value("planets", "p" * 70)
        finally:
            reset_enums()


class TestJsonMiscFolds:
    """json.c constructors/iterators + network.c arithmetic over
    literal args, folded at translate time (round 8) — pinned against
    expected/json.out, jsonb.out, inet.out."""

    def test_json_build(self):
        import pytest

        from gpdb_spark.dialect import translate

        t = translate
        assert t("SELECT json_build_array('a',1,'b',1.2,'c',true,"
                 "'d',null)") \
            == "SELECT '[\"a\", 1, \"b\", 1.2, \"c\", true, \"d\", null]'"
        assert t("SELECT json_build_object(1,2)") == "SELECT '{\"1\" : 2}'"
        assert t("SELECT json_build_array(VARIADIC '{1,2,3,4}'::int[])") \
            == "SELECT '[1, 2, 3, 4]'"
        assert t("SELECT json_build_array(VARIADIC "
                 "'{{1,4},{2,5},{3,6}}'::int[][])") \
            == "SELECT '[1, 4, 2, 5, 3, 6]'"
        assert t("SELECT json_build_object(VARIADIC NULL::text[])") \
            == "SELECT CAST(NULL AS STRING)"
        with pytest.raises(ValueError, match="even number"):
            t("SELECT json_build_object(VARIADIC '{a,b,c}'::text[])")
        with pytest.raises(ValueError, match="cannot be null"):
            t("SELECT json_build_object(VARIADIC "
              "ARRAY[NULL, 'a']::text[])")
        with pytest.raises(ValueError, match="must be scalar"):
            t("SELECT json_build_object(json '{\"a\":1}', 3)")

    def test_to_json_datetime(self):
        from gpdb_spark.dialect import set_session_zone, translate

        try:
            set_session_zone("GMT+10:30")
            assert translate(
                "select to_json(timestamptz "
                "'2014-05-28 12:22:35.614298-04')") \
                == "select '\"2014-05-29T02:52:35.614298+10:30\"'"
        finally:
            set_session_zone("UTC")
        assert translate(
            "select to_json(timestamp '2014-05-28 12:22:35.614298')") \
            == "select '\"2014-05-28T12:22:35.614298\"'"
        assert translate("select to_json(date '2014-05-28')") \
            == "select '\"2014-05-28\"'"
        assert translate("select to_json(date 'Infinity')") \
            == "select '\"infinity\"'"

    def test_json_each_select_position(self):
        from gpdb_spark.dialect import translate

        out = translate(
            'select json_each(\'{"f1":[1,2,3],"f4":null}\')')
        assert out == ("select explode(array('(f1,\"[1,2,3]\")', "
                       "'(f4,null)'))")
        # jsonb twin renders canonically (sorted keys, ', ' spacing)
        out = translate(
            'SELECT jsonb_each(\'{"f1":[1,2,3],"f2":{"f3":1}}\')')
        assert '[1, 2, 3]' in out and '""f3"": 1' in out
        # FROM position keeps the relational two-column form
        out = translate(
            'SELECT * FROM json_each(\'{"a":1}\') ORDER BY key')
        assert "explode(array('(" not in out

    def test_inet_arithmetic(self):
        import pytest

        from gpdb_spark.dialect import translate

        t = translate
        assert t("SELECT '127.0.0.1'::inet + 257") == "SELECT '127.0.1.2'"
        assert t("SELECT ('127.0.0.1'::inet + 257) - 257") \
            == "SELECT '127.0.0.1'"
        assert t("SELECT '127::1'::inet + 257") == "SELECT '127::102'"
        assert t("SELECT '127.0.0.2'::inet - ('127.0.0.2'::inet + 500)") \
            == "SELECT -500"
        assert t("SELECT '127::1'::inet + 10000000000") \
            == "SELECT '127::2:540b:e401'"
        with pytest.raises(ValueError, match="out of range"):
            t("SELECT '126::1'::inet - '127::2'::inet")
        # CIDR and function forms keep their existing path
        assert "masklen" in t("SELECT masklen('192.168.1.5/24'::inet)")
        assert t("SELECT host('192.168.1.5'::inet)") \
            == "SELECT host('192.168.1.5')"


class TestRound8ZoneDiscipline:
    """PG DetermineTimeZoneOffset parity for constant zone folds
    (datetime.c): region zones resolve DST gaps with the BEFORE offset
    and ambiguities with AFTER; dynamic abbreviations
    (DetermineTimeZoneAbbrevOffset — MSK) prefer AFTER in both. The
    values are pinned against expected/timestamptz.out's Moscow 2011/
    2014 block. Also covered: AT TIME ZONE's tstz->naive direction
    returns timestamp WITHOUT time zone (TIMESTAMP_NTZ literal),
    timestamptz 'epoch' is the UTC instant, POSIX compound suffixes
    invert their sign, and N * INTERVAL products keep sub-day
    components physical across DST."""

    def _with_zone(self, fn):
        from gpdb_spark.dialect import set_session_zone

        set_session_zone("PST8PDT")
        try:
            return fn()
        finally:
            set_session_zone("UTC")

    def test_zone_gap_and_ambiguity(self):
        from gpdb_spark.dialect import translate as t

        def run():
            # gap (2011-03-27 02:00 Moscow, +3 -> +4): zone id -> before
            assert "'2011-03-26 23:00:00+00:00'" in t(
                "SELECT '2011-03-27 02:00:00 Europe/Moscow'::timestamptz")
            # ... dynamic abbreviation -> after
            assert "'2011-03-26 22:00:00+00:00'" in t(
                "SELECT '2011-03-27 02:00:00 MSK'::timestamptz")
            # ambiguity (2014-10-26 01:00, +4 -> +3): both -> after
            assert "'2014-10-25 22:00:00+00:00'" in t(
                "SELECT '2014-10-26 01:00:00 Europe/Moscow'::timestamptz")
            assert "'2014-10-25 22:00:00+00:00'" in t(
                "SELECT '2014-10-26 01:00:00 MSK'::timestamptz")

        self._with_zone(run)

    def test_at_time_zone_directions(self):
        from gpdb_spark.dialect import translate as t

        def run():
            # naive -> tstz keeps the abbreviation discipline
            assert "'2011-03-26 22:00:00+00:00'" in t(
                "SELECT '2011-03-27 02:00:00'::timestamp "
                "AT TIME ZONE 'MSK'")
            assert "'2011-03-26 23:00:00+00:00'" in t(
                "SELECT '2011-03-27 02:00:00'::timestamp "
                "AT TIME ZONE 'Europe/Moscow'")
            # tstz -> naive emits TIMESTAMP_NTZ (no zone, no abbrev)
            out = t("SELECT '2011-03-26 21:00:00 UTC'::timestamptz "
                    "AT TIME ZONE 'Europe/Moscow'")
            assert "TIMESTAMP_NTZ '2011-03-27 00:00:00'" in out
            # bare-string operand is timestamptz input (session zone)
            out = t("SELECT '19970210 173201' "
                    "AT TIME ZONE 'America/New_York'")
            assert "TIMESTAMP_NTZ '1997-02-10 20:32:01'" in out

        self._with_zone(run)

    def test_posix_and_dayname_literals(self):
        from gpdb_spark.dialect import translate as t

        def run():
            # POSIX compound suffix: sign INVERTED (GMT-4 = UTC+4)
            assert "'2001-07-11 06:51:14+00:00'" in t(
                "SELECT 'Wed Jul 11 10:51:14 GMT-4 2001'::timestamptz")
            assert "'2001-07-11 13:51:14+00:00'" in t(
                "SELECT 'Wed Jul 11 10:51:14 PST+03:00 2001'"
                "::timestamptz")
            # day-name alternative field order with a region zone
            assert "'2001-07-11 14:51:14+00:00'" in t(
                "SELECT 'Wed Jul 11 10:51:14 America/New_York 2001'"
                "::timestamptz")
            # compact run-together form with a region suffix
            assert "'2050-07-10 14:32:01+00:00'" in t(
                "SELECT '20500710 173201 Europe/Helsinki'::timestamptz")

        self._with_zone(run)

    def test_epoch_instant_and_interval_product(self):
        from gpdb_spark.dialect import translate as t

        out = t("SELECT TIMESTAMP WITH TIME ZONE 'epoch' "
                "+ 1407545520 * INTERVAL '1 second'")
        # epoch = UTC instant, and the N * interval product adds
        # physical microseconds (timestamp_micros path), not a
        # session-wall Spark interval
        assert "'1970-01-01 00:00:00+00:00'" in out
        assert "timestamp_micros" in out and "1407545520000000" in out

    def test_make_timestamptz_fold(self):
        import pytest

        from gpdb_spark.dialect import translate as t

        assert "'2014-12-09 23:00:00+00:00'" in t(
            "SELECT make_timestamptz(2014, 12, 10, 0, 0, 0, "
            "'Europe/Prague')")
        assert "'2014-10-25 22:00:00+00:00'" in t(
            "SELECT make_timestamptz(2014, 10, 26, 1, 0, 0, 'MSK')")
        with pytest.raises(ValueError, match="numeric time zone"):
            t("SELECT make_timestamptz(1973, 7, 15, 8, 15, 55.33, '2')")

    def test_to_timestamp_session_instant(self):
        from gpdb_spark.dialect import translate as t

        def run():
            # PST8PDT is a POSIX fixed-rule zone: 0097 folds at -8
            # exactly (the JDK's PST8PDT->America/Los_Angeles link
            # would shift pre-1883 walls by the 7:02 LMT offset)
            assert "'0097-02-16 16:14:30+00:00'" in t(
                "SELECT to_timestamp('97/2/16 8:14:30', "
                "'FMYYYY/FMMM/FMDD FMHH:FMMI:FMSS')")

        self._with_zone(run)


class TestRound8NumericAlgebra:
    """numeric.c constant arithmetic scale selection + the ERR_MISS
    error-contract parity batch, pinned against expected/numeric.out,
    int2/int4.out, float4/float8.out and text.out."""

    def test_select_div_scale(self):
        from gpdb_spark.dialect import translate as t

        assert "'1.00000000000000000000' AS DECIMAL(21,20)" in t(
            "select 999999999999999999999::numeric"
            "/1000000000000000000000")
        assert "'1.00000000000000000000' AS DECIMAL(21,20)" in t(
            "select 70.0 / 70")
        # int-digit-heavy quotient selects scale 0 WITH rounding
        assert "'100371373180768845'" in t(
            "select 12345678901234567890 / 123")
        # div() truncates
        assert "'100371373180768844'" in t(
            "select div(12345678901234567890, 123)")
        # div/mod identity reassembles the dividend exactly
        assert "'12345678901234567890'" in t(
            "select div(12345678901234567890, 123) * 123 "
            "+ 12345678901234567890 % 123")

    def test_power_scale_and_overflow(self):
        import pytest

        from gpdb_spark.dialect import translate as t

        assert "'0.0000000000000000' AS DECIMAL(17,16)" in t(
            "select 10.0 ^ -2147483648")
        for s in ("select 10.0 ^ 2147483647",
                  "select 117743296169.0 ^ 1000000000"):
            with pytest.raises(ValueError, match="overflows numeric"):
                t(s)

    def test_precedence_guards_hold(self):
        from gpdb_spark.dialect import translate as t

        # an unfolded column on the left of a same-tier chain poisons
        # the whole chain (left-associativity)
        assert t("SELECT count(*) * 100.0 / 7 AS pct FROM orders") \
            == "SELECT count(*) * 100.0 / 7 AS pct FROM orders"
        assert t("SELECT colX * 2.0 + 3 FROM x") \
            == "SELECT colX * 2.0 + 3 FROM x"
        # pure constants on a lower tier still fold
        assert "'6.0' AS DECIMAL(2,1)" in t(
            "SELECT colX + 2.0 * 3 FROM x")
        # int-int arithmetic keeps integer semantics
        assert t("SELECT 1 + 2") == "SELECT 1 + 2"
        assert t("SELECT 5 / 2") == "SELECT 5 div 2"

    def test_error_contract_parity(self):
        import pytest

        from gpdb_spark.dialect import translate as t

        for s, msg in [
            ("SELECT (-32768)::int2 / (-1)::int2", "smallint out of"),
            ("SELECT (-2147483648)::int4 / (-1)::int4",
             "integer out of"),
            ("SELECT '32767.6'::float4::int2", "smallint out of"),
            ("SELECT '9223372036854775807'::float8::int8",
             "bigint out of"),
            ("SELECT chr(0)", "null character"),
            ("select length(42)", "length\\(integer\\)"),
            ("select 3 || 4.0", "operator does not exist"),
            ("select format('%I', NULL)", "SQL identifier"),
        ]:
            with pytest.raises(ValueError, match=msg):
                t(s)
        # the exact int8 boundary is NOT an error (-2^63 fits)
        assert "CAST" in t("SELECT '-9223372036854775808.5'"
                           "::float8::int8")

    def test_format_and_quote_literal(self):
        from gpdb_spark.dialect import translate as t

        assert t("select format(NULL)") == "select CAST(NULL AS STRING)"
        assert t("select format('%s, %s', variadic "
                 "array[true, false])") == "select concat('t', ', ', 'f')"
        # quote_literal adds the E'' form when backslashes are present
        out = t("select quote_literal(e'\\\\')")
        assert "'E'''" in out and "instr" in out


class TestRound8ArrayJsonResidue:
    """arrays.out / json.out / jsonb.out residue batch: multi-dim
    array_fill, out-of-range array_length dims, NULL handling in
    array_to_string/array_remove, dimension-preserving array casts,
    SRF-in-expression, text-preserving json extraction, canonical
    jsonb element output, 9.4-vintage negative-index misses, and the
    repeat()/format()/DCH error contracts."""

    def test_array_batch(self):
        import pytest

        from gpdb_spark.dialect import translate as t

        assert "array_repeat(array_repeat((7), 3), 3)" in \
            t("select array_fill(7, array[3,3])").replace("  ", " ")
        assert "CAST(NULL AS INT)" in \
            t("select array_length(array[[1,2],[3,4]], 0)")
        assert "CAST(NULL AS INT)" in \
            t("select array_length(array[[1,2],[3,4]], 3)")
        # 3-arg array_to_string with NULL nullstr omits NULLs
        out = t("select array_to_string(array[1,NULL,2], ',', NULL)")
        assert out.count("NULL") == 1  # only the array element
        assert "filter" in t("select array_remove(array[1,NULL], NULL)")
        assert "= array()" in \
            t("select array_remove(array['X'], 'X') = '{}'")
        # dimension-preserving cast: PG array casts ignore the written
        # bracket count
        assert "AS ARRAY" not in \
            t("SELECT ARRAY[['a','bc'],['def','hijk']]::text[]")
        with pytest.raises(ValueError, match="empty array"):
            t("select array[]")
        assert "CAST(array() AS" in t("select array[]::text[]")
        with pytest.raises(ValueError, match="cannot contain nulls"):
            t("select array_fill(1, array[1,2,null])")
        with pytest.raises(ValueError, match="malformed array"):
            t("select '{{\"1 2\" x},{3}}'::text[]")
        # SRF-in-expression (9.x): fn maps over the set
        assert "explode(transform" in \
            t("select abs(unnest(array[1,2,-3])))")
        # empty input -> empty array, not ['']
        assert "THEN array()" in t("select string_to_array('', '|')")

    def test_json_text_preserving_extraction(self):
        from gpdb_spark.dialect import translate as t

        src = '\'{"f2":{"f3":1},"f4":{"f5":99}}\''
        assert t(f"select json_extract_path({src},'f2')") \
            == "select '{\"f3\":1}'"
        assert t(f"select {src}::json#>array['f2']") \
            == "select '{\"f3\":1}'"
        # identity path returns the ORIGINAL text
        assert t("select '{\"a\": {\"b\":{\"c\": \"foo\"}}}'::json "
                 "#> '{}'") == "select '{\"a\": {\"b\":{\"c\": \"foo\"}}}'"
        assert t("select '[1,2,3]'::json #>> '{}'") == "select '[1,2,3]'"

    def test_jsonb_vintage_and_canonical(self):
        from gpdb_spark.dialect import translate as t

        # 9.4 jsonb: negative indexes are misses, not end-relative
        assert t("SELECT '[\"a\",\"b\"]'::jsonb -> -1") == "SELECT NULL"
        assert t("SELECT '{\"c\":[1,2,3]}'::jsonb #> '{c,-1}'") \
            == "SELECT NULL"
        # canonical element rendering in the select list
        out = t('SELECT jsonb_array_elements(\'[[1,[2,3]]]\')')
        assert "'[1, [2, 3]]'" in out
        # jsonb values embed as json inside array_to_json
        assert t("SELECT array_to_json(ARRAY[jsonb '{\"a\":1}'])") \
            == "SELECT '[{\"a\": 1}]'"
        # empty text[] key sets
        assert t("SELECT jsonb_exists_any('{\"a\":1}', '{}'::text[])") \
            == "SELECT FALSE"
        assert t("SELECT jsonb_exists_all('{\"a\":1}', '{}'::text[])") \
            == "SELECT TRUE"

    def test_repeat_and_dch_contracts(self):
        import pytest

        from gpdb_spark.dialect import translate as t

        for s in ("SELECT repeat('[', 10000)::json",
                  "SELECT repeat('{\"a\":', 10000)::jsonb"):
            with pytest.raises(Exception):
                t(s)
        with pytest.raises(ValueError, match="conflicting values"):
            t("SELECT to_timestamp('1997-11-Jan-16', 'YYYY-MM-Mon-DD')")
        with pytest.raises(ValueError, match="out of range"):
            t("SELECT make_timestamptz(2014,12,10,10,10,10,'+16')")
        # FROM-less ARRAY(SELECT ...) sublink
        assert t("SELECT array_to_json(array(select 1 as a))") \
            == "SELECT to_json((array(1)))"


class TestRound8IntervalTypmodAndBits:
    """interval.out typmod residue + bit/regex/text-chain items: the
    file now probes fully exact (78 GOLD_AGREE / 0 DIFF / 0 MISS)."""

    def test_interval_typmod_forms(self):
        import pytest

        from gpdb_spark.dialect import translate as t

        # bare number under X TO Y takes the END field as its unit
        assert t("SELECT interval '1' year to month") \
            == "SELECT '1 mon'"
        # interval(p) with a qualifier; second(q) there is PG's error
        assert t("SELECT interval(2) '12:34.5678' minute to second") \
            == "SELECT '00:12:34.57'"
        with pytest.raises(ValueError, match="specified twice"):
            t("SELECT interval(2) '12:34.5678' minute to second(2)")
        # two-field time with a FRACTION reads MM:SS, not HH:MM
        assert t("SELECT interval '1 2:03.4567' day to second(2)") \
            == "SELECT '1 day 00:02:03.46'"

    def test_standalone_literal_text_rendering(self):
        from gpdb_spark.dialect import (set_interval_style,
                                        translate as t)

        # PG keeps the (days, micros) field split a collected
        # timedelta cannot carry: 999 hours is NOT 41 days 15:00
        assert t("SELECT interval '999' hour") == "SELECT '999:00:00'"
        assert t("SELECT interval '1 -2:03' minute to second") \
            == "SELECT '1 day -00:02:03'"
        set_interval_style("sql_standard")
        try:
            assert t("SELECT interval '1-2' year to month AS ym") \
                == "SELECT '1-2' AS ym"
        finally:
            set_interval_style("postgres")

    def test_bit_string_get_set(self):
        import pytest

        from gpdb_spark.dialect import translate as t

        assert t("SELECT get_bit(B'0101011000100', 10)") == "SELECT 1"
        assert t("SELECT set_bit(B'0101011000100100', 15, 1)") \
            == "SELECT '0101011000100101'"
        with pytest.raises(ValueError, match="out of valid range"):
            t("SELECT get_bit(B'0101', 10)")

    def test_regex_word_boundary_escapes(self):
        from gpdb_spark.dialect import translate as t

        assert "\\\\b(?=\\\\w)" in t("select 'x' ~ 'abcd(\\m)+xyz'")
        assert "\\\\B" in t("select 'x' ~ 'xyz(\\Y\\Y)+'")

    def test_text_chain_array_cast(self):
        from gpdb_spark.dialect import translate as t

        assert t("SELECT '{1,2}'::text::integer[]") \
            == "SELECT CAST(array('1', '2') AS ARRAY<INT>)"


class TestRound8ComplexType:
    """GPDB complex type through the SQL front door (complex_type.c
    via functions/complextype.py): complex.out probes 156/157
    golden-identical (the one residual is a compiler-evaluation-order
    nan*0 row, documented)."""

    def test_literal_io(self):
        import pytest

        from gpdb_spark.dialect import translate as t

        assert t("SELECT COMPLEX '5 + 3i'") == "SELECT '5 + 3i'"
        assert t("SELECT conj(COMPLEX(5,3))") == "SELECT '5 - 3i'"
        assert t("SELECT ' -6 - -7i '::complex") == "SELECT '-6 + 7i'"
        for bad in ("10e400", "10e-400i"):
            with pytest.raises(ValueError, match="out of range"):
                t(f"SELECT COMPLEX '{bad}'")

    def test_algebra_and_functions(self):
        from gpdb_spark.dialect import translate as t

        assert t("SELECT COMPLEX(3, 5) * COMPLEX(6, 7) "
                 "= COMPLEX(-17, 51) AS tr") == "SELECT TRUE AS tr"
        assert t("SELECT COMPLEX(5,3)/COMPLEX(0,0) "
                 "= COMPLEX('nan', 'nan') AS tr") == "SELECT TRUE AS tr"
        assert t("SELECT COMPLEX '5+3i' ^ 4 "
                 "= power(COMPLEX(5,3),4::COMPLEX) AS tr") \
            == "SELECT TRUE AS tr"
        assert t("SELECT sqrt(COMPLEX(5,3)) "
                 "= power(COMPLEX(5,3), 0.5) AS tr") \
            == "SELECT TRUE AS tr"
        assert "'5.0' AS DOUBLE" in t("SELECT re(COMPLEX(5, 3))")
        assert "'NaN' AS DOUBLE" in t("SELECT abs(COMPLEX('nan', 3))")
        # scalar sub-expressions inside constructor args
        assert "1.0471975511965976" in t(
            "SELECT abs(radians(COMPLEX(1, sqrt(3))) - pi()/3) < 1e-6")
        # array dotproduct with a NULL element is NULL
        out = t("SELECT dotproduct(ARRAY[COMPLEX(1,3)], "
                "ARRAY[NULL]) IS NULL AS tr")
        assert "CAST ( NULL" in out or "CAST( NULL" in out \
            or "CAST(NULL" in out

    def test_int_division_chain_guard(self):
        from gpdb_spark.dialect import translate as t

        # pi()*2/3 divides pi()*2, not the int 2 (left-assoc)
        assert t("SELECT pi()*2/3") == "SELECT pi() * 2 / 3"
        # an all-integer chain keeps int division
        assert t("SELECT 8*2/3") == "SELECT 8 * 2 div 3"

    def test_substring_comma_regex_form(self):
        from gpdb_spark.dialect import translate as t

        out = t("SELECT SUBSTRING('XY1234Z', 'Y*([0-9]{1,3})')")
        assert out == ("SELECT nullif(regexp_extract('XY1234Z', "
                       "'Y*([0-9]{1,3})', 1), '')")
        # positional 2-arg stays native
        assert t("SELECT SUBSTRING('abc', 2)") \
            == "SELECT SUBSTRING('abc', 2)"


class TestRound8FinalResidue:
    """Last residual batch: NaN/Infinity through the float->numeric
    chain, array_out text images, constant date_trunc instants,
    quote_literal backslash round-trip, split 'g' refusal."""

    def test_float_numeric_specials(self):
        import pytest

        from gpdb_spark.dialect import translate as t

        assert t("SELECT 'NaN'::float8::numeric") \
            == "SELECT CAST('NaN' AS DOUBLE)"
        for s in ("SELECT 'Infinity'::float8::numeric",
                  "SELECT '-Infinity'::float4::numeric"):
            with pytest.raises(ValueError, match="infinity"):
                t(s)

    def test_array_out_scalar_text(self):
        from gpdb_spark.dialect import translate as t

        assert t("SELECT array[1,2]::text") == "SELECT '{1,2}'"
        # bracketed array-type casts keep the array path
        assert "array" in t("SELECT array[1,2]::text[]").lower()

    def test_date_trunc_constant_instant(self):
        from gpdb_spark.dialect import translate as t

        out = t("SELECT DATE_TRUNC('MILLENNIUM', DATE '1970-03-20')")
        assert "'1001-01-01 00:00:00+00:00'" in out

    def test_split_global_flag_refuses(self):
        import pytest

        from gpdb_spark.dialect import translate as t

        with pytest.raises(ValueError, match="global"):
            t("SELECT regexp_split_to_array('a b', ' ', 'g')")


class TestRound9VerdictFixes:
    """The three round-8 silent-wrong residues (VERDICT r08 'What's
    wrong' #2-4), pinned against the reference: geometry operator
    completeness with the refuse-unknown contract (geo_ops.c box_eq:751
    area equality, lseg_eq:2221 fuzzy endpoints, pg_operator.h — point
    has ~= but no =), enum declared-order comparison (enum.c enum_cmp
    via enumsortorder; regress enum.sql:134-152), and the
    ``numeric '...'`` prefix literal joining the numeric.c scale
    algebra."""

    def test_box_eq_is_area_equality(self, spark):
        from gpdb_spark.dialect import translate

        # geo_ops.c:751 FPeq(box_ar, box_ar): different shapes, equal
        # areas -> TRUE (string compare said FALSE — the r8 wrong)
        r = spark.sql(translate(
            "SELECT box '(2,2),(0,0)' = box '(4,1),(0,0)' AS t"
        )).collect()[0][0]
        assert r is True
        r = spark.sql(translate(
            "SELECT box '(2,2),(0,0)' < box '(5,1),(0,0)' AS t"
        )).collect()[0][0]
        assert r is True

    def test_point_eq_does_not_exist(self):
        from gpdb_spark.dialect import translate

        # pg_operator.h: point has ~= only — PG raises, never compares
        with pytest.raises(ValueError, match="operator does not exist"):
            translate("SELECT point '(1,2)' = point '(1,2)'")

    def test_lseg_fuzzy_equality(self, spark):
        from gpdb_spark.dialect import translate

        # geo_ops.c:2221 FPeq per coordinate: EPSILON 1e-6 absorbs the
        # 1e-7 wobble (exact text compare said FALSE)
        r = spark.sql(translate(
            "SELECT lseg '[(1,1),(2,2)]' = lseg '[(1.00000005,1),(2,2)]'"
            " AS t")).collect()[0][0]
        assert r is True
        r = spark.sql(translate(
            "SELECT lseg '[(0,0),(1,0)]' < lseg '[(0,0),(0,2)]' AS t"
        )).collect()[0][0]
        assert r is True

    def test_path_count_and_circle_area_order(self, spark):
        from gpdb_spark.dialect import translate

        r = spark.sql(translate(
            "SELECT path '((0,0),(1,1))' = path '((9,9),(8,8))' AS a,"
            "       circle '<(0,0),2>' > circle '<(5,5),1>' AS b"
        )).collect()[0]
        assert r[0] is True and r[1] is True

    def test_geo_unimplemented_carries_pg_message(self):
        from gpdb_spark.dialect import translate

        with pytest.raises(ValueError, match="not implemented"):
            translate(
                "SELECT polygon '((0,0),(1,1),(1,0))'"
                " <-> polygon '((5,5),(6,6),(6,5))'")

    def test_enum_constant_declared_order(self):
        from gpdb_spark.dialect import (
            register_enum, translate,
        )

        register_enum(
            "rainbow",
            ["red", "orange", "yellow", "green", "blue", "purple"])
        register_enum("rgb", ["red", "green", "blue"])
        # enum.c enum_cmp: green (4) precedes blue (5) -> TRUE, though
        # label text order says FALSE (the r8 silent-wrong)
        assert "TRUE" in translate(
            "SELECT 'green'::rainbow < 'blue'::rainbow AS t")
        assert "FALSE" in translate(
            "SELECT rainbow 'red' >= rainbow 'orange' AS t")
        assert "'green'" in translate(
            "SELECT greatest('red'::rainbow, 'green'::rainbow)")
        with pytest.raises(ValueError, match="operator does not exist"):
            translate("SELECT 'red'::rainbow < 'green'::rgb")

    def test_enum_column_ordinal_routing(self, spark):
        from gpdb_spark.dialect import (
            pg_sql, register_enum, register_enum_column,
        )

        register_enum(
            "rainbow",
            ["red", "orange", "yellow", "green", "blue", "purple"])
        register_enum_column("r9col", "rainbow")
        rows = pg_sql(spark, """
            SELECT min(t.r9col) AS mn, max(t.r9col) AS mx,
                   max(t.r9col) FILTER (WHERE t.r9col < 'green') AS lt
            FROM (VALUES ('purple'), ('red'), ('yellow')) AS t(r9col)
        """).collect()[0]
        # enum.sql:148-152: min/max follow the declaration, and the
        # filtered max under < 'green' is 'yellow' (label order would
        # have excluded it: 'yellow' > 'green' as text)
        assert (rows[0], rows[1], rows[2]) == ("red", "purple", "yellow")

    def test_enum_order_by_declared(self, spark):
        from gpdb_spark.dialect import (
            pg_sql, register_enum, register_enum_column,
        )

        register_enum(
            "rainbow",
            ["red", "orange", "yellow", "green", "blue", "purple"])
        register_enum_column("r9col", "rainbow")
        rows = pg_sql(spark, """
            SELECT t.r9col FROM (VALUES ('green'), ('red'), ('blue'))
                AS t(r9col)
            WHERE t.r9col > 'orange' ORDER BY t.r9col
        """).collect()
        assert [r[0] for r in rows] == ["green", "blue"]

    def test_numeric_prefix_literal_scale(self, spark):
        from gpdb_spark.dialect import translate

        # numeric.c display scale: the literal's OWN dscale renders
        # (the r8 wrong padded to the generic DECIMAL(38,18) image)
        r = spark.sql(translate(
            "SELECT (numeric '4.500')::text AS a,"
            "       numeric '4.500' + numeric '0.1' AS b"
        )).collect()[0]
        assert r[0] == "4.500"
        assert str(r[1]) == "4.600"

    def test_numeric_prefix_matches_cast_spelling(self):
        from gpdb_spark.dialect import translate

        pairs = [
            ("SELECT numeric '4.500' AS x", "SELECT '4.500'::numeric AS x"),
            ("SELECT (numeric '-4.5')::text AS x",
             "SELECT ('-4.5'::numeric)::text AS x"),
            ("SELECT numeric '10' / numeric '3' AS x",
             "SELECT '10'::numeric / '3'::numeric AS x"),
        ]
        for a, b in pairs:
            assert translate(a) == translate(b), (a, b)

    def test_float_int_cast_rounding(self, spark):
        from gpdb_spark.dialect import translate

        # float.c dtoi4 via rint (half to EVEN); numeric.c numeric_int4
        # rounds half AWAY from zero — Spark's CAST truncates both
        # (found round 9 while probing table-backed casts)
        cases = [
            ("SELECT '34.87'::float8::int8 AS a", 35),
            ("SELECT 2.5::float8::int4 AS a", 2),
            ("SELECT 3.5::float8::int4 AS a", 4),
            ("SELECT ('244.5'::float8)::int2 AS a", 244),
            ("SELECT 2.5::numeric::int4 AS a", 3),
            ("SELECT (-2.5)::numeric::int4 AS a", -3),
            ("SELECT 1.9::int4 AS a", 2),
            ("SELECT '123'::int4 AS a", 123),
        ]
        for q, want in cases:
            got = spark.sql(translate(q)).collect()[0][0]
            assert got == want, (q, got, want)


class TestDateEdges:
    """date.sql table-probe burn-down (r11): BC dates, infinity dates,
    date-date subtraction, century/decade/millennium folds, the
    5-digit-year GUC (date.c, timestamp.c, datetime.c)."""

    def test_date_minus_date_is_days(self):
        from gpdb_spark.dialect import TypeContext, translate

        assert "datediff" in translate(
            "SELECT f1 - date '2000-01-01' FROM t",
            types=TypeContext(dt_cols={"f1": "date"}))
        # date - int stays date arithmetic
        assert "datediff" not in translate(
            "SELECT f1 - 3 FROM t", types=TypeContext(dt_cols={"f1": "date"}))
        # timestamp - timestamp is interval, not days
        assert "datediff" not in translate(
            "SELECT a - b FROM t",
            types=TypeContext(dt_cols={"a": "timestamp", "b": "timestamp"}))

    def test_bc_date_literal_folds_image(self):
        import pytest
        from gpdb_spark import dialect as d

        d.set_date_style("postgres")
        d.set_date_order("mdy")
        try:
            assert d.translate("SELECT date 'January 8, 99 BC'") \
                == "SELECT '01-08-0099 BC'"
            d.set_date_style("iso")
            assert d.translate("SELECT date 'January 8, 99 BC'") \
                == "SELECT '0099-01-08 BC'"
            # ymd assigns year=8 day=99 -> out of range, like PG
            d.set_date_order("ymd")
            with pytest.raises(ValueError):
                d.translate("SELECT date 'January 8, 99 BC'")
        finally:
            d.set_date_style("iso")
            d.set_date_order("mdy")

    def test_infinity_date_folds(self):
        from gpdb_spark.dialect import translate

        assert translate("select 'infinity'::date") \
            == "select 'infinity'"
        assert translate("select 'infinity'::date > 'today'::date") \
            == "select true"
        assert translate("select '-infinity'::date < 'today'::date") \
            == "select true"
        assert translate("select isfinite('-infinity'::date)") \
            == "select false"
        assert translate(
            "select 'infinity'::date = '-infinity'::date") \
            == "select false"

    def test_extract_century_bc_and_interval(self):
        from gpdb_spark.dialect import translate

        def val(sql):
            out = translate(sql)
            return int(out.split("(")[1].split("AS")[0])

        assert val("SELECT EXTRACT(CENTURY FROM DATE '0101-12-31 BC')") == -2
        assert val("SELECT EXTRACT(CENTURY FROM DATE '0100-12-31 BC')") == -1
        assert val("SELECT EXTRACT(DECADE FROM DATE '0012-12-31 BC')") == -2
        assert val("SELECT EXTRACT(MILLENNIUM FROM DATE '0001-12-31 BC')") == -1
        assert val("SELECT EXTRACT(CENTURY FROM INTERVAL '100 y')") == 1
        assert val("SELECT EXTRACT(CENTURY FROM INTERVAL '-99 y')") == 0
        assert val("SELECT EXTRACT(CENTURY FROM INTERVAL '-100 y')") == -1

    def test_date_trunc_century_bc_images(self):
        from gpdb_spark import dialect as d

        d.set_date_style("postgres")
        d.set_date_order("mdy")
        d.set_session_zone("PST8PDT")
        try:
            assert d.translate(
                "SELECT DATE_TRUNC('CENTURY', DATE '0055-08-10 BC')") \
                == "SELECT 'Tue Jan 01 00:00:00 0100 PST BC'"
            assert d.translate(
                "SELECT DATE_TRUNC('DECADE', DATE '0004-12-25')") \
                == "SELECT 'Sat Jan 01 00:00:00 0001 PST BC'"
            assert d.translate(
                "SELECT DATE_TRUNC('CENTURY', DATE '0002-02-04')") \
                == "SELECT 'Mon Jan 01 00:00:00 0001 PST'"
        finally:
            d.set_date_style("iso")
            d.set_date_order("mdy")
            d.set_session_zone("UTC")

    def test_date_5digit_guc(self):
        import pytest
        from gpdb_spark import dialect as d

        with pytest.raises(ValueError):
            d.translate("SELECT date '2020516'")
        d.set_date_5digit(True)
        try:
            assert d.translate("SELECT date '2020516'") \
                == "SELECT date '0202-05-16'"
        finally:
            d.set_date_5digit(False)

    def test_cast_date_literal_normalizes(self):
        from gpdb_spark.dialect import translate

        assert translate("select '990108'::date") \
            == "select CAST('1999-01-08' AS DATE)"
        assert translate("select '1999 Jan 08'::date") \
            == "select CAST('1999-01-08' AS DATE)"


class TestJoinSubqueryForms:
    """r11: nested-ON join trees, VALUES subqueries, bpchar casts
    (gram.y joined_table; parse_coerce.c; varchar.c)."""

    def test_nested_on_join_parenthesizes(self):
        from gpdb_spark.dialect import translate

        out = translate(
            "select * from a inner join b left join c on b.x = c.x"
            " on a.y = b.y")
        assert "join(b left join c on b.x = c.x) on" in out.replace(
            "  ", " ")
        # plain chains stay untouched
        assert translate(
            "select * from a join b on a.x = b.x join c on b.y = c.y") \
            == "select * from a join b on a.x = b.x join c on b.y = c.y"

    def test_values_subquery_rewrites(self):
        from gpdb_spark.dialect import translate

        out = translate(
            "select * from (values"
            " ((3 not in (select * from (values (1), (2)) ss1))),"
            " (false)) ss")
        assert "UNION ALL" in out and "column1" in out
        # plain VALUES stays an inline table
        assert "UNION" not in translate(
            "select * from (values (1), (2)) v(x)")

    def test_all_values_subquery(self):
        from gpdb_spark.dialect import translate

        out = translate(
            "select * from generate_series(1,4) i"
            " where i <> all (values (2),(3))")
        assert "__in_values__" in out

    def test_bpchar_cast_pads_and_trims(self):
        from gpdb_spark.dialect import TypeContext, translate

        assert translate("SELECT 'abcde'::char(4)") \
            == "SELECT rpad(substring(CAST(('abcde') AS STRING)," \
               " 1, 4), 4, ' ')"
        assert translate("SELECT CAST(f1 AS varchar) FROM t",
                         types=TypeContext(bp_cols=frozenset({"f1"}))) \
            == "SELECT rtrim(f1) FROM t"
        assert translate("SELECT c.f1::text FROM t c",
                         types=TypeContext(bp_cols=frozenset({"f1"}))) \
            == "SELECT rtrim(c.f1) FROM t c"
        # non-bpchar columns keep the plain cast
        assert translate("SELECT CAST(f1 AS varchar) FROM t") \
            == "SELECT CAST(f1 AS STRING) FROM t"
