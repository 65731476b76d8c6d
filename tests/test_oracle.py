"""Mirror of the driver's correctness gate: run every registered query on
Spark AND its DuckDB oracle SQL on the same parquet, and judge the pair
with tools/dtype_parity.compare — column names, dtype families, row
count and the order-insensitive multiset of values, the same verdict
tools/driver_sim.py prints.
"""

from __future__ import annotations

import datetime
import math

import duckdb
import pytest
from pyspark.sql.types import LongType, StructField, StructType

import gpdb_spark.queries  # noqa: F401 — populates the registry
from gpdb_spark.registry import ORACLE, QUERIES
from tools.dtype_parity import canon_rows, compare


@pytest.mark.parametrize("name", sorted(ORACLE))
def test_oracle(name, spark, duck, sf_dir):
    v = compare(QUERIES[name](spark, sf_dir), duck, ORACLE[name])
    assert v.problem is None, f"{name}: {v.problem}"


class _Result:
    """The part of a Spark DataFrame that compare() reads."""

    def __init__(self, schema, rows):
        self.schema, self._rows = schema, rows

    def collect(self):
        return self._rows


def test_canon_rows_refuses_what_the_driver_cannot_compare():
    utc = datetime.timezone.utc
    for cell in ([1], {"a": 1}, datetime.datetime(2024, 1, 1, tzinfo=utc)):
        with pytest.raises(TypeError):
            canon_rows([(cell,)], ["c"])
    naive = datetime.datetime(2024, 1, 1)
    assert canon_rows([(naive,)], ["c"]) == [(naive,)]


def test_canon_rows_is_order_insensitive_and_value_exact():
    assert canon_rows([(float("nan"),)], ["x"]) == canon_rows(
        [(math.nan,)], ["x"]
    )
    # -0.0 and 0.0 are equal but repr-sort apart; canonicalised they land
    # in the same position, so these two results compare equal
    assert canon_rows([(-0.0, "b"), (0.0, "a")], ["x", "y"]) == canon_rows(
        [(0.0, "b"), (-0.0, "a")], ["x", "y"]
    )
    assert canon_rows([(1, "a"), (2, "b")], ["n", "S"]) == canon_rows(
        [("b", 2), ("a", 1)], ["s", "N"]
    )


def test_compare_reports_int_vs_hugeint_as_dtype_skew():
    con = duckdb.connect()
    try:
        spark_side = _Result(StructType([StructField("n", LongType())]), [(1,)])
        v = compare(spark_side, con, "SELECT 1::HUGEINT AS n")
        assert (v.spark_rows, v.oracle_rows) == (1, 1)
        assert v.problem == "DTYPE-SKEW n: spark=int duck=int128"
        assert compare(spark_side, con, "SELECT 1::BIGINT AS n").problem is None
    finally:
        con.close()


def test_no_decimal_compared_outputs(duck):
    """Registry-wide no-decimal-output policy gate (VERDICT r05
    What's-wrong #1): the driver's value hasher is not value-transparent
    on DECIMAL columns (DuckDB's pandas path drops trailing zero cents,
    Spark keeps scale), so ANY decimal-family column in a compared
    output is a latent red regardless of value correctness. DESCRIBE is
    bind-only, so this sweeps all ~240 oracles in seconds and stops a
    decimal output from ever reaching a round head again. The Spark
    side needs no separate scan: a Spark decimal against a non-decimal
    oracle is already a dtype_parity mismatch, and decimal/decimal pairs
    are flagged by this scan's oracle side."""
    offenders = []
    for name in sorted(ORACLE):
        for col, coltype, *_ in duck.execute(
            f"DESCRIBE {ORACLE[name]}"
        ).fetchall():
            if coltype.upper().startswith("DECIMAL"):
                offenders.append(f"{name}.{col}: {coltype}")
    assert not offenders, (
        "decimal-typed compared outputs (re-express over integer cents "
        f"or CAST AS DOUBLE): {offenders}"
    )


def test_no_array_compared_outputs(duck):
    """Registry-wide no-nested-output policy gate (VERDICT r06
    What's-wrong #1, the symmetric twin of the decimal gate above): the
    driver's canonicalizer crashes on list cells (pandas sort_values ->
    Categorical -> factorize -> "unhashable type: 'list'"), so ANY
    array/map/struct column in a compared output is a guaranteed driver
    ERR regardless of value correctness — the exact mechanism behind all
    3 round-6 reds. Serialize the compared image to text
    (array_to_string with a NULL sentinel, or to_json) on both sides;
    the array operations themselves stay exercised inside the
    serialization. DESCRIBE is bind-only, so this sweeps every oracle in
    seconds."""
    offenders = []
    for name in sorted(ORACLE):
        for col, coltype, *_ in duck.execute(
            f"DESCRIBE {ORACLE[name]}"
        ).fetchall():
            t = coltype.upper()
            if (
                t.endswith("[]")
                or t.startswith(("LIST", "ARRAY", "STRUCT", "MAP"))
            ):
                offenders.append(f"{name}.{col}: {coltype}")
    assert not offenders, (
        "nested-typed compared outputs (serialize with array_to_string "
        f"or to_json on both sides): {offenders}"
    )


def test_no_tz_aware_compared_outputs(duck):
    """Registry-wide no-timestamptz-output policy gate (VERDICT r08
    What's-wrong #1, the third sibling of the decimal and nested
    gates): a TIMESTAMP WITH TIME ZONE column in a compared output is a
    guaranteed driver red — DuckDB's pandas path produces
    datetime64[us, UTC] while Spark collects naive datetimes, so the
    driver's schema and value-hash compares can never match even when
    the instants are identical (the exact r08 pg_dst_interval_arith
    failure). Serialize zone-explicitly on both sides:
    (x AT TIME ZONE 'UTC')::text. DESCRIBE is bind-only, so this
    sweeps every oracle in seconds."""
    offenders = []
    for name in sorted(ORACLE):
        for col, coltype, *_ in duck.execute(
            f"DESCRIBE {ORACLE[name]}"
        ).fetchall():
            t = coltype.upper()
            if "WITH TIME ZONE" in t or t == "TIMESTAMPTZ":
                offenders.append(f"{name}.{col}: {coltype}")
    assert not offenders, (
        "tz-aware compared outputs (serialize with "
        f"(x AT TIME ZONE 'UTC')::text on both sides): {offenders}"
    )


def test_every_query_has_entry():
    assert QUERIES, "registry is empty"
    missing = set(ORACLE) - set(QUERIES)
    assert not missing, f"oracles without queries: {missing}"


def test_driver_priority_names_resolve():
    """Every DRIVER_PRIORITY name must exist in the registry and appear
    once: `_ordered` silently drops unknown names, so a typo here would
    waste one of the driver's ~50 correctness-sample slots without any
    visible failure."""
    import __spark_entry__ as entry

    missing = [n for n in entry.DRIVER_PRIORITY if n not in QUERIES]
    assert not missing, f"DRIVER_PRIORITY names not in registry: {missing}"
    dupes = {
        n for n in entry.DRIVER_PRIORITY
        if entry.DRIVER_PRIORITY.count(n) > 1
    }
    assert not dupes, f"duplicate DRIVER_PRIORITY names: {dupes}"
