"""Smoke tests for the driver contract surface."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest
from pyspark.sql import types as T
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame
from pyspark.sql.conf import RuntimeConfig

import __spark_entry__ as ent
from hh_rumors_presto_spark import io
from tools.explain_audit import UNBOUNDED_NLJ, UNBOUNDED_WINDOW, unbounded_nodes

# md5 of "\n".join(QUERIES) after load_all_queries() in a fresh
# interpreter: the registration order.
REGISTRATION_ORDER_MD5 = "c5627a47e762fcff1fbd7db7c6c41e7c"

# Final-schema types the driver's result canonicalizer cannot compare.
_HOSTILE = (T.ArrayType, T.MapType, T.StructType, T.DecimalType)


def test_entry_returns_rows(spark):
    df = ent.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {
        "date",
        "date_pretty",
        "snippet_html",
        "sourceName",
        "sourceUrl",
        "suppressSource",
    }


@pytest.fixture(scope="module")
def registry_pass(spark, sf_dir) -> dict[str, dict]:
    """Build every key once, in serving order, and record what the
    registry-wide checks read: its columns, the driver-hostile fields of
    its final schema, and the nested-loop joins and unpartitioned windows
    that break the row-bound rule, in its plan or in any frame it
    checkpoints while it builds (or the error that stopped the build)."""
    unbounded: list[str] = []
    local_checkpoint = ClassicDataFrame.localCheckpoint

    def checked(self, *args, **kwargs):
        unbounded.extend(unbounded_nodes(self))
        return local_checkpoint(self, *args, **kwargs)

    built = {}
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(ClassicDataFrame, "localCheckpoint", checked)
        for name, fn in ent.queries().items():
            unbounded.clear()
            try:
                df = fn(spark, sf_dir)
                unbounded.extend(unbounded_nodes(df))
                built[name] = {
                    "columns": df.columns,
                    "hostile": [
                        f"{f.name}: {f.dataType}"
                        for f in df.schema.fields
                        if isinstance(f.dataType, _HOSTILE)
                    ],
                    "windows": [u for u in unbounded if u.startswith("Window")],
                    "nested_loops": [
                        u for u in unbounded if not u.startswith("Window")
                    ],
                }
            except Exception as e:  # reported by the smoke test
                built[name] = {"error": repr(e)}
    return built


def test_every_query_has_callable_and_runs_smoke(registry_pass):
    assert registry_pass, "registry is empty"
    errors = {k: b["error"] for k, b in registry_pass.items() if "error" in b}
    assert not errors, errors
    # schema resolves lazily; building a key forces analysis only
    assert not [k for k, b in registry_pass.items() if not b["columns"]]


def test_no_driver_hostile_output_types(registry_pass):
    """The driver's canonicalizer chokes on array/map/struct cells
    (unhashable in its pandas sort) and stringifies Decimal differently per
    engine — so no query may emit them in its FINAL schema (r1 lesson:
    text_stem/agg_approx_quantile err'd, 7 decimal keys hash-failed)."""
    offenders = [
        f"{name}.{field}"
        for name, b in registry_pass.items()
        for field in b.get("hostile", ())
    ]
    assert not offenders, offenders


def _assert_row_bound(registry_pass, field: str, allowed: dict[str, str]):
    """Keys whose ``field`` findings are non-empty are exactly the keys in
    ``allowed``, each listed with a reason."""
    found = {k: b[field] for k, b in registry_pass.items() if b.get(field)}
    unlisted = {k: v for k, v in found.items() if k not in allowed}
    assert not unlisted, f"{field} without a static row bound: {unlisted}"
    errored = {k for k, b in registry_pass.items() if "error" in b}
    stale = sorted(set(allowed) - set(found) - errored)
    assert not stale, f"listed keys that plan no unbounded {field}: {stale}"
    assert all(reason.strip() for reason in allowed.values())


def test_nested_loops_have_a_static_row_bound(registry_pass):
    """Every key's nested-loop joins meet explain_audit's MAX_STATIC_ROWS
    rule, except the keys in UNBOUNDED_NLJ, and each of those still plans
    an unbounded one (a key that no longer does leaves the dict)."""
    _assert_row_bound(registry_pass, "nested_loops", UNBOUNDED_NLJ)


def test_unpartitioned_windows_have_a_static_row_bound(registry_pass):
    """Every key's windows with no PARTITION BY, which run in one task,
    read an input within explain_audit's MAX_STATIC_ROWS rule, except the
    keys in UNBOUNDED_WINDOW, and each of those still plans an unbounded
    one. Frames a key checkpoints while it builds count too: their
    windows are gone from the plan the key returns."""
    _assert_row_bound(registry_pass, "windows", UNBOUNDED_WINDOW)


@pytest.fixture
def conf_sets(monkeypatch):
    """(key, value) of every RuntimeConfig.set call the test makes."""
    calls = []
    set_conf = RuntimeConfig.set

    def recorded(self, key, value):
        calls.append((key, value))
        return set_conf(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", recorded)
    return calls


def test_keys_leave_the_session_conf_alone(spark, sf_dir, conf_sets):
    """These keys pick their join strategy and overwrite mode per
    operation, with a join hint and a writer option, so building and
    collecting them sets no session conf that a query running beside
    them would see."""
    for key in ("hint_no_broadcast", "sink_partitioned", "sink_dynamic_overwrite"):
        ent.queries()[key](spark, sf_dir).collect()
    assert conf_sets == []


def test_microsecond_event_stream_sets_no_nanos_conf(spark, sf_dir, conf_sets):
    """A stream over microsecond events reads ``ts`` as stored, so it sets
    no nanosAsLong conf; nanosecond files are covered in test_footer_io.py
    and test_streaming.py."""
    ts = io.read_footer(io.table_path(sf_dir, "events")).schema["ts"]
    assert not isinstance(ts.dataType, T.LongType), "fixture ts is not µs"
    ent.queries()["stream_tumbling"](spark, sf_dir).collect()
    assert [k for k, _ in conf_sets if "nanosAsLong" in k] == []


def test_registration_order_is_pinned():
    """Keys register in module import order, and the driver serves them in
    registration order after the non-green ones; a family move that
    reorders the registry changes this digest. It is taken in a fresh
    interpreter, as the driver loads the registry: in this session, tests
    that import a query module directly have registered its keys early."""
    code = (
        "import hashlib\n"
        "from hh_rumors_presto_spark.registry import QUERIES, load_all_queries\n"
        "load_all_queries()\n"
        "print(len(QUERIES), hashlib.md5('\\n'.join(QUERIES).encode()).hexdigest())"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        capture_output=True,
        text=True,
        timeout=300,
        check=True,
    )
    n_keys, digest = out.stdout.split()
    assert digest == REGISTRATION_ORDER_MD5, f"{n_keys} keys: {digest}"


def test_oracle_keys_subset_of_queries():
    qs = ent.queries()
    for key in ent.oracle_sql():
        assert key in qs


def test_serving_order_reds_first():
    """The driver samples the first 50 keys. Keys whose latest ledger row
    is not green lead, in registration order; every other key follows in
    registration order. The ledger order must not drop or add keys."""
    from hh_rumors_presto_spark.registry import QUERIES

    served = list(ent.queries())
    registered = list(QUERIES)
    assert sorted(served) == sorted(registered)
    evaluated, green = ent._driver_ledger()
    red = [k for k in registered if k in evaluated and k not in green]
    assert served == red + [k for k in registered if k not in red]
    assert list(ent.oracle_sql()) == [k for k in served if k in ent.oracle_sql()]


def test_missing_ledger_serves_registration_order(monkeypatch):
    from hh_rumors_presto_spark.registry import QUERIES

    monkeypatch.setattr(ent, "_REPO_DIR", "/nonexistent")
    assert ent._driver_ledger() == (set(), set())
    assert list(ent.queries()) == list(QUERIES)
