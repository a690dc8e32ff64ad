"""Smoke tests for the driver contract surface."""

from __future__ import annotations

import __spark_entry__ as ent


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


def test_every_query_has_callable_and_runs_smoke(spark, sf_dir):
    qs = ent.queries()
    assert qs, "registry is empty"
    for name, fn in qs.items():
        df = fn(spark, sf_dir)
        # schema resolves lazily; force analysis without full execution
        assert df.columns, name


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


def test_no_driver_hostile_output_types(spark, sf_dir):
    """The driver's canonicalizer chokes on array/map/struct cells
    (unhashable in its pandas sort) and stringifies Decimal differently per
    engine — so no query may emit them in its FINAL schema (r1 lesson:
    text_stem/agg_approx_quantile err'd, 7 decimal keys hash-failed)."""
    from pyspark.sql import types as T

    banned = (T.ArrayType, T.MapType, T.StructType, T.DecimalType)
    offenders = []
    for name, fn in ent.queries().items():
        df = fn(spark, sf_dir)
        for field in df.schema.fields:
            if isinstance(field.dataType, banned):
                offenders.append(f"{name}.{field.name}: {field.dataType}")
    assert not offenders, offenders
