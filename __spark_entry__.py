"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

Implementation lives in ``hh_rumors_presto_spark``; this module is a thin
adapter over its registry.
"""

from __future__ import annotations

import glob
import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from hh_rumors_presto_spark.registry import ORACLES, QUERIES, load_all_queries

SMOKE_SF_DIR = "/root/testdata/sf0.001"
_REPO_DIR = os.path.dirname(os.path.abspath(__file__))


def _driver_ledger() -> tuple[set, set]:
    """(evaluated, green) key sets from the committed CORRECTNESS_r*.json
    rows. green = proven under the key's CURRENT verification contract:
    a value-hash match, or — for keys that STILL have no oracle — any
    crash-free rows-only row. A stale no_oracle row on a key that has
    since gained an oracle does NOT count, so graduated keys are
    re-proven. Both sets are empty if the ledger cannot be read."""
    evaluated: set = set()
    latest_green: dict = {}
    try:
        paths = sorted(glob.glob(os.path.join(_REPO_DIR, "CORRECTNESS_r*.json")))
        for p in paths:  # sorted by round: later files overwrite earlier
            for k, row in json.load(open(p)).items():
                evaluated.add(k)
                latest_green[k] = row.get("hash_match") is True or (
                    row.get("err") == "no_oracle"
                    and row.get("spark_rows") is not None
                    and k not in ORACLES
                )
    except Exception:
        return set(), set()
    return evaluated, {k for k, g in latest_green.items() if g}


def _ordered(d: dict) -> dict:
    """Serve keys whose latest driver CORRECTNESS row is not green first
    (reds re-proven after a fix), then every other key in registration
    order. With an unreadable ledger this is registration order."""
    evaluated, green = _driver_ledger()
    red = {k: v for k, v in d.items() if k in evaluated and k not in green}
    return {**red, **{k: v for k, v in d.items() if k not in red}}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    load_all_queries()
    return QUERIES["flagship_pipeline"](spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    load_all_queries()
    return _ordered(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL per query key; every registered key
    carries an oracle, so the driver hash-verifies the whole surface."""
    load_all_queries()
    return _ordered(ORACLES)

