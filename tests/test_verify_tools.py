"""Unit coverage for the two verification-tool failure modes VERDICT r7
item 7 named — the classes where the TOOLS themselves could lie:

1. verify_local's --duckdb-arrow materialization must rebuild rows
   POSITIONALLY: a name-keyed dict path (to_pylist() on the table) would
   silently collapse DUPLICATE oracle output column names into one value,
   making a broken oracle look green.
2. type_parity_scan's schema diff must run BOTH directions: a Spark
   column the oracle never emits (MISSING-IN-ORACLE) is as red as the
   converse — the driver compares full column sets.

No Spark needed; pure duckdb/python.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

import duckdb
import pytest

from type_parity_scan import diff_types, duck_family, spark_family
from verify_local import arrow_rows, duckdb_memory_limit, value_hash


# ---------------------------------------------------------------- item 1
def test_arrow_rows_preserves_duplicate_column_names():
    con = duckdb.connect()
    rel = con.sql("SELECT 1 AS x, 2 AS x, 'a' AS y")
    rows = arrow_rows(rel)
    assert rows == [(1, 2, "a")], (
        "duplicate output columns collapsed — the Arrow rebuild is "
        "name-keyed, not positional"
    )


def test_arrow_rows_matches_fetchall_on_nulls_and_types():
    con = duckdb.connect()
    q = """
    SELECT * FROM (VALUES
        (1, NULL, 'a', 1.5),
        (NULL, CAST(2 AS BIGINT), NULL, NULL)
    ) t(a, b, c, d)
    """
    assert arrow_rows(con.sql(q)) == con.sql(q).fetchall()


def test_arrow_rows_empty_result_and_zero_columns():
    con = duckdb.connect()
    assert arrow_rows(con.sql("SELECT 1 AS x WHERE false")) == []


def test_arrow_rows_hugeint_stays_distinguishable():
    """The reason --duckdb-arrow exists: HUGEINT must reach value_hash as
    Decimal (hashing 'dec:...'), not a Python int — fetchall() hides the
    int128 divergence the external driver enforces."""
    con = duckdb.connect()
    rel = con.sql("SELECT CAST(5 AS HUGEINT) AS s")
    (row,) = arrow_rows(rel)
    h_arrow = value_hash([row], ["s"])
    h_bigint = value_hash([(5,)], ["s"])
    assert h_arrow != h_bigint, (
        "HUGEINT materialized as plain int through Arrow — the int128 "
        "driver divergence would be invisible locally again"
    )


# ---------------------------------------------------------------- item 2
def test_diff_types_reverse_direction_missing_in_oracle():
    stypes = {"a": "bigint", "extra": "string"}
    drows = [("a", "BIGINT")]
    bad, skew = diff_types(stypes, drows)
    assert ("extra", "MISSING-IN-ORACLE", "string") in bad
    assert skew is None


def test_diff_types_forward_direction_missing_in_spark():
    bad, _ = diff_types({"a": "bigint"}, [("a", "BIGINT"), ("b", "VARCHAR")])
    assert ("b", "MISSING-IN-SPARK", "VARCHAR") in bad


def test_diff_types_family_mismatch_and_int128():
    bad, _ = diff_types(
        {"n": "bigint", "v": "double"},
        [("n", "HUGEINT"), ("v", "DOUBLE")],
    )
    assert bad == [("n", "spark:bigint(integer)", "duck:HUGEINT(int128)")]


def test_diff_types_order_skew_is_informational_not_bad():
    bad, skew = diff_types(
        {"a": "bigint", "b": "string"},
        [("b", "VARCHAR"), ("a", "BIGINT")],
    )
    assert bad == []
    assert skew == {"spark": ["a", "b"], "duck": ["b", "a"]}


def test_diff_types_clean():
    bad, skew = diff_types({"a": "bigint"}, [("a", "BIGINT")])
    assert (bad, skew) == ([], None)


@pytest.mark.parametrize(
    ("spark_t", "duck_t"),
    [("bigint", "BIGINT"), ("double", "DOUBLE"), ("string", "VARCHAR"),
     ("decimal(12,2)", "DECIMAL(12,2)"), ("array<bigint>", "BIGINT[]")],
)
def test_family_helpers_agree(spark_t, duck_t):
    assert spark_family(spark_t) == duck_family(duck_t)


# ------------------------------------------------------- DuckDB memory cap
def test_duckdb_memory_limit_is_half_of_memtotal():
    """verify_local caps DuckDB so a large oracle spills, not OOMs."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    limit = duckdb_memory_limit()
    assert limit == f"{total_kb // 2048}MB"
    duckdb.connect().execute(f"SET memory_limit = '{limit}'")

