"""Exact money sums have one Spark-side spelling: ``functions.exact``.

The AST scan fails if any string literal passed to ``.cast(`` or
``.sql(`` under ``hh_rumors_presto_spark/`` spells ``decimal(28,`` outside
the helper module. Oracle SQL strings are not such arguments, and
``tests/`` keeps its own hand-written reference casts, so neither is
scanned.
"""

from __future__ import annotations

import ast
import pathlib
import re

from pyspark.sql import functions as F
from pyspark.sql import types as T

from hh_rumors_presto_spark.functions.exact import dec, revenue

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


def test_decimal28_spelled_only_in_helper():
    offenders = [
        f"{path.relative_to(PKG)}:{line}"
        for path in sorted(PKG.rglob("*.py"))
        if path != HELPER
        for line in _decimal_literal_lines(path)
    ]
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
