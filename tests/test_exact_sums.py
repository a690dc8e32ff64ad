"""Exact values have one Spark-side spelling: ``functions.exact``.

Two AST scans over ``hh_rumors_presto_spark/`` fail on a copy outside the
helper module: any string literal passed to ``.cast(`` or ``.sql(`` that
spells ``decimal(28,``, and any ``F.floor(x * 10^s + 0.5)`` (either
operand order), the half-up fixed point that ``half_up`` spells. Oracle
SQL strings are not such arguments, and ``tests/`` keeps its own
hand-written reference casts, so neither is scanned.
"""

from __future__ import annotations

import ast
import pathlib
import re

import duckdb
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hh_rumors_presto_spark.functions.exact import dec, half_up, revenue

PKG = pathlib.Path(__file__).resolve().parent.parent / "hh_rumors_presto_spark"
HELPER = PKG / "functions" / "exact.py"
_DEC28 = re.compile(r"decimal\(28,", re.IGNORECASE)


def _decimal_literal_lines(path: pathlib.Path) -> list[int]:
    lines = []
    for node in ast.walk(ast.parse(path.read_text())):
        if not (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("cast", "sql")
        ):
            continue
        for arg in [*node.args, *(k.value for k in node.keywords)]:
            for sub in ast.walk(arg):
                if (
                    isinstance(sub, ast.Constant)
                    and isinstance(sub.value, str)
                    and _DEC28.search(sub.value)
                ):
                    lines.append(node.lineno)
    return lines


def _outside_helper(scan) -> list[str]:
    return [
        f"{path.relative_to(PKG)}:{line}"
        for path in sorted(PKG.rglob("*.py"))
        if path != HELPER
        for line in scan(path)
    ]


def test_decimal28_spelled_only_in_helper():
    offenders = _outside_helper(_decimal_literal_lines)
    assert not offenders, offenders


def test_scan_sees_literal_and_fstring_casts(tmp_path):
    src = tmp_path / "m.py"
    src.write_text(
        'c.cast("DECIMAL(28,2)")\n'
        'c.cast(f"decimal(28,{s})")\n'
        'spark.sql("SELECT CAST(x AS decimal(28,4))")\n'
        'c.cast("decimal(38,2)")\n'
    )
    assert _decimal_literal_lines(src) == [1, 2, 3]


_POWERS_OF_TEN = {10**s for s in range(1, 19)}


def _power_of_ten(node: ast.expr) -> bool:
    return isinstance(node, ast.Constant) and node.value in _POWERS_OF_TEN


def _half_up_lines(path: pathlib.Path) -> list[int]:
    """Lines of ``F.floor(x * 10^s + 0.5)`` and ``F.floor(10^s * x + 0.5)``;
    NumPy code in Python workers (``np.floor``) is not Spark-side."""
    lines = []
    for node in ast.walk(ast.parse(path.read_text())):
        match node:
            case ast.Call(
                func=ast.Attribute(value=ast.Name(id="F"), attr="floor"),
                args=[
                    ast.BinOp(
                        left=ast.BinOp(op=ast.Mult(), left=a, right=b),
                        op=ast.Add(),
                        right=ast.Constant(value=0.5),
                    )
                ],
            ) if _power_of_ten(a) or _power_of_ten(b):
                lines.append(node.lineno)
    return sorted(lines)


def test_half_up_spelled_only_in_helper():
    offenders = _outside_helper(_half_up_lines)
    assert not offenders, offenders


def test_scan_sees_both_operand_orders(tmp_path):
    src = tmp_path / "m.py"
    src.write_text(
        'F.floor(F.col("v") * 100.0 + 0.5).cast("long")\n'
        "F.floor(1000000.0 * F.log(p) + 0.5)\n"
        "F.floor(x * 1e6 + 0.5)\n"
        'F.floor(1000000.0 * F.col("n") * q / d + 0.5)\n'
        "F.floor(x * 3.0 + 0.5)\n"
        'F.floor(F.col("l_quantity") + 0.5)\n'
        "np.floor(v * 100.0 + 0.5)\n"
    )
    assert _half_up_lines(src) == [1, 2, 3]


@pytest.mark.parametrize("scale", [2, 6])
def test_half_up_matches_duckdb(spark, scale):
    """Boundary inputs round as the oracles' floor(x * 10^s + 0.5) does,
    1.005 (stored just under a half step) and a value near 1e12 included."""
    xs = [1.005, 2.675, -1.005, -0.5, 0.0, 999999999999.995]
    df = spark.createDataFrame(list(enumerate(xs)), "i int, x double").select(
        "i", half_up(F.col("x"), scale).alias("q")
    )
    assert df.schema["q"].dataType == T.LongType()
    rows = ", ".join(f"({i}, {x!r}::DOUBLE)" for i, x in enumerate(xs))
    want = duckdb.sql(
        f"SELECT i, CAST(floor(CAST(x AS DOUBLE) * {10**scale}.0 + 0.5) AS BIGINT)"
        f" FROM (VALUES {rows}) t(i, x) ORDER BY i"
    ).fetchall()
    assert sorted(tuple(r) for r in df.collect()) == want


def test_helper_types(spark):
    df = spark.createDataFrame(
        [(100.25, 0.05), (3.5, 0.0)], "l_extendedprice double, l_discount double"
    )
    row = df.select(
        dec(F.col("l_extendedprice"), 2).alias("p"),
        revenue().alias("r"),
    )
    assert row.schema["p"].dataType == T.DecimalType(28, 2)
    assert row.schema["r"].dataType == T.DecimalType(28, 4)
    sums = row.agg(F.sum("p").alias("sp"), F.sum("r").alias("sr"))
    assert sums.schema["sp"].dataType == T.DecimalType(38, 2)
    assert sums.schema["sr"].dataType == T.DecimalType(38, 4)
    got = sums.collect()[0]
    assert str(got.sp) == "103.75"
    assert str(got.sr) == "98.7375"
