"""$SPARK_GRAFT_CPUS is validated in one place, session.default_parallelism:
a malformed value fails there, naming the variable, not deep inside a
query or the bench's host probe.  The fan-outs sized from it
(session.tasks_for_rows) stay within [1, cap] for any input size."""

from __future__ import annotations

import itertools

import pytest

from hh_rumors_presto_spark.operators.pairblocks import block_count
from hh_rumors_presto_spark.session import default_parallelism, tasks_for_rows


@pytest.mark.parametrize("raw", ["", "x", "0"])
def test_malformed_cpus_raise(monkeypatch, raw):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", raw)
    # block_count reads the core count even when the input is one block
    for fn in (
        default_parallelism,
        lambda: block_count(1),
        lambda: block_count(10**6),
    ):
        with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
            fn()


def test_cpus_parsed_or_defaulted(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
    assert default_parallelism() == 8
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert default_parallelism() == 32


def test_tasks_for_rows_bounded_and_monotone():
    for per, cap in itertools.product((1, 7, 1000), (1, 4, 32)):
        counts = [tasks_for_rows(rows, per, cap) for rows in range(0, 40 * per, 3)]
        assert all(1 <= c <= cap for c in counts), (per, cap)
        assert counts == sorted(counts), (per, cap)
        assert counts[-1] == cap
    assert tasks_for_rows(1000, 1000, 8) == 1
    assert tasks_for_rows(1001, 1000, 8) == 2


@pytest.mark.parametrize("args", [(-1, 10, 4), (10, 0, 4), (10, 10, 0)])
def test_tasks_for_rows_rejects_bad_arguments(args):
    with pytest.raises(ValueError, match="tasks_for_rows"):
        tasks_for_rows(*args)


def test_block_count_follows_item_rows(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    # the sf0.001 fixtures (500 documents, 150 customers) are one block;
    # sf0.1 (5000 documents, 15000 customers) keeps the core-derived cap
    assert [block_count(n) for n in (0, 150, 500, 1500, 5000, 15000)] == [
        1, 1, 1, 2, 4, 4,
    ]
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    assert block_count(10**6) == 8
