"""Docs-vs-registry drift gate: the counts COVERAGE.md and README.md
advertise must equal what the registry actually contains, read from the
checkout these tests sit in."""

from __future__ import annotations

import os
import re

import hh_rumors_presto_spark
from hh_rumors_presto_spark.registry import ORACLES, QUERIES, load_all_queries

load_all_queries()

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_coverage_header_counts_match_registry():
    head = open(os.path.join(REPO_ROOT, "COVERAGE.md")).read(400)
    m = re.search(
        r"(\d+) registered query keys; (\d+) value-hash-verified", head
    )
    assert m, "COVERAGE.md header count line missing"
    assert int(m.group(1)) == len(QUERIES)
    assert int(m.group(2)) == len(ORACLES)


def test_readme_key_count_matches_registry():
    text = open(os.path.join(REPO_ROOT, "README.md")).read()
    for m in re.finditer(r"(\d+) (?:registered keys|operator keys)", text):
        assert int(m.group(1)) == len(QUERIES), m.group(0)


def test_package_is_imported_from_this_checkout():
    """The suite must test the code next to it, not another clone's."""
    pkg = os.path.realpath(os.path.dirname(hh_rumors_presto_spark.__file__))
    assert pkg == os.path.realpath(os.path.join(REPO_ROOT, "hh_rumors_presto_spark"))


def test_every_key_has_oracle_or_is_declared_rows_only():
    # Round 6: the last rows-only key (stream_watermark) graduated to an
    # oracle by pinning a deterministic single-batch arrival. Round 8:
    # stream_watermark_latedrop added as the deliberate rows-only
    # companion (eviction semantics believed to have no batch-SQL
    # expression). Round 11: latedrop TOO graduated — mod-5 pinned
    # arrival + the empirically-pinned watermark algebra unrolled as
    # batch SQL — so the declared rows-only set is now EMPTY and every
    # registered key must carry an oracle.
    declared_rows_only: set[str] = set()
    missing = set(QUERIES) - set(ORACLES) - declared_rows_only
    assert not missing, f"keys without oracle nor declaration: {sorted(missing)}"
    assert declared_rows_only <= set(QUERIES)
    assert not declared_rows_only & set(ORACLES)
