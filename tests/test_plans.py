"""Physical-plan regression gate: the scale-critical plan properties from
tools/explain_audit.py must hold (pushdown, pruning, broadcast, top-k
rewrites, partial aggregation), and its nested-loop row-bound rule must
judge synthetic plans correctly. tests/test_entry.py applies that rule to
every registry key."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as ent
from tools.explain_audit import CHECKS, NO_EXCHANGE_KEYS, unbounded_nested_loops


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


def _nested_loop_fixture(spark, sf_dir):
    """An unbounded lineitem side, a one-row aggregate over it and an
    unbounded filter of orders, whose Catalyst maxRows are None, 1, None."""
    from hh_rumors_presto_spark import io

    big = io.load_table(spark, sf_dir, "lineitem")
    one_row = big.agg(F.count("*").alias("n"))
    unbounded = io.load_table(spark, sf_dir, "orders").filter("o_totalprice > 0")
    return big, one_row, unbounded


def _plans(df, name):
    return name in df._jdf.queryExecution().sparkPlan().toString()


def test_nested_loop_rule_passes_a_one_row_side(spark, sf_dir):
    big, one_row, _ = _nested_loop_fixture(spark, sf_dir)
    df = big.crossJoin(one_row)
    assert _plans(df, "BroadcastNestedLoopJoin")
    assert unbounded_nested_loops(df) == []
    cartesian = big.hint("shuffle_replicate_nl").crossJoin(one_row)
    assert _plans(cartesian, "CartesianProduct")
    assert unbounded_nested_loops(cartesian) == []


def test_nested_loop_rule_flags_an_unbounded_side(spark, sf_dir):
    big, _, unbounded = _nested_loop_fixture(spark, sf_dir)
    assert unbounded_nested_loops(big.crossJoin(F.broadcast(unbounded))) == [
        "BroadcastNestedLoopJoin BuildRight maxRows=None"
    ]
    cartesian = big.hint("shuffle_replicate_nl").crossJoin(unbounded)
    assert unbounded_nested_loops(cartesian) == [
        "CartesianProduct maxRows=(None, None)"
    ]


def test_nested_loop_rule_walks_subqueries(spark, sf_dir):
    big, _, unbounded = _nested_loop_fixture(spark, sf_dir)
    inner = big.crossJoin(F.broadcast(unbounded)).agg(F.count("*"))
    df = spark.range(1).select(inner.scalar().alias("n"))
    assert not _plans(df, "BroadcastNestedLoopJoin")
    assert unbounded_nested_loops(df) == [
        "BroadcastNestedLoopJoin BuildRight maxRows=None"
    ]


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


# ---------------------------------------------------------------------------
# Unpartitioned-window ledger gate (round-10, VERDICT r9 item 2): every
# `Window.orderBy(` / `Window.partitionBy()` site in the package must be
# classified, entity-grain sites must name their scale remedy, and the
# bucketed two-pass cumsum exemplar must actually plan bucket-partitioned.
# ---------------------------------------------------------------------------

from tools.window_ledger import (  # noqa: E402
    ENTITY_REMEDY_MARKERS,
    LEDGER,
    VALID_CLASSES,
    scan_sites,
)


def test_window_ledger_complete():
    """Every unpartitioned-window site is classified; no stale entries.

    A new `Window.orderBy(...)` site anywhere in the package fails this
    test until it is added to tools/window_ledger.py with an honest
    class — which forces the single-partition scale conversation at
    review time instead of at 100 TB."""
    sites = scan_sites()
    missing = sorted(set(sites) - set(LEDGER))
    stale = sorted(set(LEDGER) - set(sites))
    assert not missing, f"unclassified unpartitioned-window sites: {missing}"
    assert not stale, f"stale ledger entries (site gone): {stale}"
    bad = {k: v for k, v in LEDGER.items() if v not in VALID_CLASSES}
    assert not bad, f"invalid classes: {bad}"


def test_window_ledger_entity_sites_name_remedy():
    """Transitional contract for entity-grain global windows: the
    docstring must name the scale remedy (bucketed two-pass cumsum,
    mergeable quantile sketch, or a per-key split) so the fix is
    designed, not deferred. The exemplar class proves the bucketed
    remedy is implementable bit-exactly."""
    sites = scan_sites()
    offenders = []
    for key, cls in LEDGER.items():
        if cls != "entity":
            continue
        doc = " ".join(sites.get(key, "").split())  # unwrap line breaks
        if not any(m in doc for m in ENTITY_REMEDY_MARKERS):
            offenders.append(key)
    assert not offenders, (
        f"entity-grain window sites whose docstring names no scale remedy "
        f"(add one of {ENTITY_REMEDY_MARKERS}): {offenders}"
    )


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


def test_window_ledger_entity_class_retired():
    """Round 10 converted every entity-grain single-partition window
    to the bucketed two-pass cumsum; this gate keeps the class at
    zero. A new entity-grain ordered scan must be written with
    operators/windows.py:bucketed_rank_cumsum (rank, running sum) or
    ntile_from_rank (quantile scores) — not Window.orderBy over
    data-scaled input."""
    entity = sorted(k for k, v in LEDGER.items() if v == "entity")
    assert not entity, (
        "entity-grain single-partition windows reintroduced "
        f"(use bucketed_rank_cumsum instead): {entity}"
    )
