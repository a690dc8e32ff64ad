"""Physical-plan regression gate: the scale-critical plan properties from
tools/explain_audit.py must hold (pushdown, pruning, broadcast, top-k
rewrites, partial aggregation), and its row-bound rule for nested-loop
joins and unpartitioned windows must judge synthetic plans correctly.
tests/test_entry.py applies that rule to every registry key."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

import __spark_entry__ as ent
from tools.explain_audit import CHECKS, NO_EXCHANGE_KEYS, unbounded_nodes


def _plan(spark, key, sf_dir):
    df = ent.queries()[key](spark, sf_dir)
    return spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.mark.parametrize("key", sorted(CHECKS))
def test_plan_properties(spark, sf_dir, key):
    plan = _plan(spark, key, sf_dir)
    for pattern, label in CHECKS[key]:
        assert re.search(pattern, plan, re.DOTALL), f"{key}: missing {label}\n{plan[:3000]}"


@pytest.mark.parametrize("key", NO_EXCHANGE_KEYS)
def test_zero_shuffle_plans(spark, sf_dir, key):
    plan = _plan(spark, key, sf_dir)
    assert "Exchange" not in plan, f"{key}: bucketing failed to co-locate\n{plan[:3000]}"


def _row_bound_fixture(spark, sf_dir):
    """An unbounded lineitem side, a one-row aggregate over it and an
    unbounded filter of orders, whose Catalyst maxRows are None, 1, None."""
    from hh_rumors_presto_spark import io

    big = io.load_table(spark, sf_dir, "lineitem")
    one_row = big.agg(F.count("*").alias("n"))
    unbounded = io.load_table(spark, sf_dir, "orders").filter("o_totalprice > 0")
    return big, one_row, unbounded


def _plans(df, name):
    return name in df._jdf.queryExecution().sparkPlan().toString()


def _numbered(df, col):
    """``df`` with a row number over the whole frame: one Window node with
    no PARTITION BY, whose input is ``df``."""
    return df.withColumn("rn", F.row_number().over(Window.orderBy(col)))


def test_nested_loop_rule_passes_a_one_row_side(spark, sf_dir):
    big, one_row, _ = _row_bound_fixture(spark, sf_dir)
    df = big.crossJoin(one_row)
    assert _plans(df, "BroadcastNestedLoopJoin")
    assert unbounded_nodes(df) == []
    cartesian = big.hint("shuffle_replicate_nl").crossJoin(one_row)
    assert _plans(cartesian, "CartesianProduct")
    assert unbounded_nodes(cartesian) == []
    for window in (_numbered(spark.range(10), "id"), _numbered(big.limit(5), "l_orderkey")):
        assert _plans(window, "Window")
        assert unbounded_nodes(window) == []


def test_nested_loop_rule_flags_an_unbounded_side(spark, sf_dir):
    big, _, unbounded = _row_bound_fixture(spark, sf_dir)
    assert unbounded_nodes(big.crossJoin(F.broadcast(unbounded))) == [
        "BroadcastNestedLoopJoin BuildRight maxRows=None"
    ]
    cartesian = big.hint("shuffle_replicate_nl").crossJoin(unbounded)
    assert unbounded_nodes(cartesian) == [
        "CartesianProduct maxRows=(None, None)"
    ]
    assert unbounded_nodes(_numbered(big, "l_orderkey")) == ["Window maxRows=None"]


def test_nested_loop_rule_walks_subqueries(spark, sf_dir):
    big, _, unbounded = _row_bound_fixture(spark, sf_dir)
    inner = big.crossJoin(F.broadcast(unbounded)).agg(F.count("*"))
    df = spark.range(1).select(inner.scalar().alias("n"))
    assert not _plans(df, "BroadcastNestedLoopJoin")
    assert unbounded_nodes(df) == [
        "BroadcastNestedLoopJoin BuildRight maxRows=None"
    ]
    inner = _numbered(big, "l_orderkey").agg(F.max("rn"))
    df = spark.range(1).select(inner.scalar().alias("n"))
    assert unbounded_nodes(df) == ["Window maxRows=None"]


def test_checks_literal_has_no_duplicate_keys():
    """A duplicate key in the CHECKS dict literal silently shadows the
    earlier entry (Python keeps the last), so a gate can vanish without
    any test failing — caught live in round 6 when new entries duplicated
    existing ones. Parse the literal and reject duplicates."""
    import ast
    import os

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools",
        "explain_audit.py",
    )
    tree = ast.parse(open(path).read())
    for node in ast.walk(tree):
        if isinstance(node, (ast.Assign, ast.AnnAssign)):
            t = node.targets[0] if isinstance(node, ast.Assign) else node.target
            if getattr(t, "id", "") == "CHECKS" and node.value is not None:
                # the gate only works on a literal dict of constant keys:
                # a **spread entry (key is None) or computed key would
                # evade the duplicate scan, so reject those outright
                assert isinstance(node.value, ast.Dict), (
                    "CHECKS must be a dict literal"
                )
                assert all(
                    k is not None and isinstance(k, ast.Constant)
                    for k in node.value.keys
                ), "CHECKS keys must be plain string constants (no ** or computed keys)"
                keys = [k.value for k in node.value.keys]
                dups = sorted({k for k in keys if keys.count(k) > 1})
                assert not dups, f"duplicate CHECKS keys (earlier shadowed): {dups}"
                return
    raise AssertionError("CHECKS literal not found")


def test_bucketed_cumsum_exemplar_plan(spark, sf_dir):
    """agg_lorenz_deciles (the converted exemplar) must plan its
    data-scaled rank/cumsum window partitioned by the range bucket;
    the ONLY unpartitioned window specs allowed are the ones over the
    <= n_buckets bucket summary table."""
    plan = _plan(spark, "agg_lorenz_deciles", sf_dir)
    assert re.search(r"windowspecdefinition\(__bucket#\d+L?, cents#", plan), (
        "bucket-partitioned window missing from plan:\n" + plan[:3000]
    )
    assert not re.search(r"windowspecdefinition\(cents#", plan), (
        "data-scaled unpartitioned window over the entity sort key:\n"
        + plan[:3000]
    )
